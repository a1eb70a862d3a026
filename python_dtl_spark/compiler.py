"""AST → Spark DataFrame compiler.

This replaces the reference's array-IR + interpreter pipeline
(/root/reference/src/dtl/ast_to_ir.py + ir.py + eval.py) with direct,
lazy construction of DataFrame logical plans: Catalyst then performs the
equi-join extraction, predicate pushdown, column pruning and CSE the
reference left as TODOs (reference eval.py:469-477, ir.py:221-296).

Semantic fidelity points (SURVEY.md §1.4, §7):

* **Strict typing** — arithmetic/comparison require exactly equal DTL
  dtypes (reference ast_to_ir.py:209-213 et al.); checked here *before*
  Spark sees the expression, because Spark would coerce.
* **Name scoping** — columns carry namespace sets ``{None, alias}``;
  unqualified reads resolve to the *first* match in scope order
  (reference ast_to_ir.py:117-142); duplicate output names resolve
  *last-wins* with first-occurrence position (ast_to_ir.py:622-628).
* **Row order** — DTL rows are ordered, Spark DataFrames are not.  In
  ``ordered`` mode a hidden order column is threaded through every
  operator (import order → left-major join order, reference
  eval.py:168-171) and exports are sorted by it.  Ordered mode is meant
  for parity testing; the default unordered mode is the 100 TB path and
  never introduces a global sort or window.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from python_dtl_spark import functions as fnlib
from python_dtl_spark.errors import (
    DtlNameError,
    DtlOrderError,
    DtlTransactionError,
    DtlTypeError,
)
from python_dtl_spark.lang import nodes as n
from python_dtl_spark.types import (
    NUMERIC_DTYPES,
    ORDERED_DTYPES,
    DType,
    dtype_from_spark,
    spark_type_for,
)

ORDER_COL = "__dtl_order"

_EQ_DTYPES = frozenset(
    {
        DType.BOOL,
        DType.INT32,
        DType.INT64,
        DType.DOUBLE,
        DType.TEXT,
        DType.BYTES,
        DType.TIMESTAMP,
        DType.DATE,
    }
)


@dataclass(frozen=True)
class CompiledTable:
    """A fully-compiled table: a (lazy) DataFrame plus the DTL schema.

    ``df`` holds exactly the logical columns by name, plus ``ORDER_COL``
    when ``order_col`` is set (ordered mode), plus hidden row-id columns
    in traced mode (SURVEY.md §2.7; reference mappings.py/manifest.py):

    * ``uuid`` / ``rid_col`` — set once the table has been *finalized* as
      a trace snapshot: ``rid_col`` is the physical column holding this
      table's own row ids.
    * ``src_rids`` — ``(source_table_uuid, phys_col)`` pairs: row ids of
      contributing source rows threaded *by construction* through
      projections/filters/joins (the Spark analogue of the reference's
      Where/Pick candidate mappings, mappings.py:104-153).
    * ``pending`` — ``(source_table_uuid, bridge_df, bridge_phys)``
      deferred mappings for operators that destroy row identity
      (aggregation/distinct/set ops): ``bridge_df`` has columns
      ``__src_rid``/``__bridge`` and joins against this table's
      ``bridge_phys`` column at finalization (many-to-one via group
      keys — the reference computes these as relational joins on index
      arrays too, mappings.py:310-322).
    """

    df: DataFrame
    columns: tuple[tuple[str, DType], ...]
    order_col: str | None = None
    uuid: str | None = None
    rid_col: str | None = None
    src_rids: tuple[tuple[str, str], ...] = ()
    pending: tuple[tuple[str, DataFrame, str], ...] = ()

    @property
    def column_names(self) -> list[str]:
        return [name for name, _ in self.columns]

    def public_df(self) -> DataFrame:
        """The DataFrame with hidden columns dropped (sorted in ordered mode)."""
        df = self.df
        if self.order_col is not None:
            df = df.orderBy(F.col(self.order_col).asc_nulls_last())
        return df.select(*[F.col(name) for name in self.column_names])


@dataclass(frozen=True)
class ScopeColumn:
    name: str
    namespaces: frozenset
    phys: str
    dtype: DType


@dataclass
class Scope:
    """A SELECT's working set: a DataFrame whose physical column names are
    engine-generated and unique, plus the logical name/namespace view."""

    df: DataFrame
    columns: list[ScopeColumn]
    order_cols: list[str]  # physical hidden order columns, major → minor
    rid_cols: list[tuple[str, str]] = field(default_factory=list)  # traced: (src_uuid, phys)


class ExprCompiler:
    """Compiles scalar expressions against a scope with strict DTL typing."""

    def __init__(self, columns: list[ScopeColumn]):
        self._columns = columns

    def compile(self, node: n.Expression) -> tuple[Column, DType]:
        if isinstance(node, n.Literal):
            return self._literal(node)
        if isinstance(node, n.ColumnRef):
            sc = self.resolve(node)
            return F.col(sc.phys), sc.dtype
        if isinstance(node, n.BinaryOp):
            return self._binary(node)
        if isinstance(node, n.UnaryOp):
            return self._unary(node)
        if isinstance(node, n.FunctionCall):
            return self._call(node)
        raise DtlNameError(f"compilation error: unsupported expression {node!r}")

    def resolve(self, ref: n.ColumnRef) -> ScopeColumn:
        # First match in scope order wins (reference ast_to_ir.py:117-142).
        for sc in self._columns:
            if sc.name == ref.name and ref.namespace in sc.namespaces:
                return sc
        qual = f"{ref.namespace}.{ref.name}" if ref.namespace else ref.name
        raise DtlNameError(f"compilation error: unknown column {qual!r}")

    def _literal(self, node: n.Literal) -> tuple[Column, DType]:
        # Literal dtypes: reference ast_to_ir.py:157-190 (int→INT64,
        # float→DOUBLE, str→TEXT, bool→BOOL).  Broadcasting to the scope's
        # shape is free in Spark (F.lit), including over empty scopes —
        # the reference's empty-table restriction (ast_to_ir.py:153-155)
        # is lifted.
        if node.kind == "int":
            return F.lit(node.value).cast("long"), DType.INT64
        if node.kind == "float":
            return F.lit(node.value).cast("double"), DType.DOUBLE
        if node.kind == "string":
            return F.lit(node.value), DType.TEXT
        if node.kind == "bool":
            return F.lit(node.value), DType.BOOL
        if node.kind == "bytes":
            # the reference declares the Bytes node (nodes.py:42-44) but
            # its eval crashes on pa.bytes() (eval.py:119) and its lexer
            # never emits the token — promoted here to a real literal
            # (F.lit(bytes) -> BinaryType), closing SURVEY §2.2
            return F.lit(node.value), DType.BYTES
        raise DtlNameError(f"compilation error: bad literal kind {node.kind!r}")

    def _binary(self, node: n.BinaryOp) -> tuple[Column, DType]:
        lc, lt = self.compile(node.left)
        rc, rt = self.compile(node.right)
        return build_binary(node.op, lc, lt, rc, rt)

    def _unary(self, node: n.UnaryOp) -> tuple[Column, DType]:
        oc, ot = self.compile(node.operand)
        return build_unary(node.op, oc, ot)

    def _call(self, node: n.FunctionCall) -> tuple[Column, DType]:
        if node.name in fnlib.AGGREGATES:
            raise DtlNameError(
                f"compilation error: aggregate function {node.name!r} "
                "used outside GROUP BY / aggregation context"
            )
        builtin = fnlib.SCALARS.get(node.name)
        if builtin is None:
            raise DtlNameError(f"compilation error: unknown function {node.name!r}")
        return build_scalar_call(builtin, node, self.compile)


def derive_name(expr: n.Expression) -> str:
    """Only column refs can self-name (reference ast_to_ir.py:93-102)."""
    if isinstance(expr, n.ColumnRef):
        return expr.name
    raise DtlNameError(
        "compilation error: no name could be derived for expression; add AS"
    )


def _contains_aggregate(expr: n.Expression) -> bool:
    if isinstance(expr, n.FunctionCall):
        if expr.name in fnlib.AGGREGATES:
            return True
        return any(_contains_aggregate(a) for a in expr.args)
    if isinstance(expr, n.BinaryOp):
        return _contains_aggregate(expr.left) or _contains_aggregate(expr.right)
    if isinstance(expr, n.UnaryOp):
        return _contains_aggregate(expr.operand)
    return False


class Engine:
    """Compiles and runs DTL scripts on a SparkSession.

    ``ordered=True`` reproduces the reference's observable row order
    (positional semantics, SURVEY.md §1.2) — intended for parity tests
    and small data.  ``ordered=False`` (default) is the scale path.
    """

    def __init__(self, spark, importer, ordered: bool = False, tracer=None):
        self.spark = spark
        self.importer = importer
        self.ordered = ordered
        self.tracer = tracer
        self.traced = tracer is not None
        self._ids = itertools.count()
        self._trace_ids = itertools.count()

    # -- public API ---------------------------------------------------------

    def run_script(self, source: str | n.Script) -> list[tuple[str, CompiledTable]]:
        """Execute a script; returns ``[(export_location, table), ...]``."""
        from python_dtl_spark.lang import parse

        script = parse(source) if isinstance(source, str) else source
        env: dict[str, CompiledTable] = {}
        exports: list[tuple[str, CompiledTable]] = []
        # Open transaction block: (env snapshot, exports length at BEGIN).
        # Copy-on-write bindings make rollback a dict restore — no data
        # was materialized, only logical plans discarded.  (In traced
        # mode, snapshots taken inside a rolled-back block stay in the
        # trace: an audit trail that hid aborted work would not be one.)
        txn: tuple[dict[str, CompiledTable], int] | None = None
        for stmt in script.statements:
            if isinstance(stmt, n.WithStatement):
                table = self.compile_table(stmt.expression, env)
                if self.traced:
                    table = self._finalize_trace(stmt.name, table, "STATEMENT")
                env[stmt.name] = table
            elif isinstance(stmt, n.ExportStatement):
                table = self.compile_table(stmt.expression, env)
                if self.traced:
                    table = self._finalize_trace(stmt.location, table, "EXPORT")
                exports.append((stmt.location, table))
            elif isinstance(stmt, n.UpdateStatement):
                env[stmt.target] = self._exec_mutation(
                    stmt.target, self._compile_update(stmt, env)
                )
            elif isinstance(stmt, n.DeleteStatement):
                env[stmt.target] = self._exec_mutation(
                    stmt.target, self._compile_delete(stmt, env)
                )
            elif isinstance(stmt, n.InsertStatement):
                env[stmt.target] = self._exec_mutation(
                    stmt.target, self._compile_insert(stmt, env)
                )
            elif isinstance(stmt, n.BeginStatement):
                if txn is not None:
                    raise DtlTransactionError("BEGIN inside an open transaction block")
                txn = (dict(env), len(exports))
            elif isinstance(stmt, n.CommitStatement):
                if txn is None:
                    raise DtlTransactionError("COMMIT without a matching BEGIN")
                txn = None
            elif isinstance(stmt, n.RollbackStatement):
                if txn is None:
                    raise DtlTransactionError("ROLLBACK without a matching BEGIN")
                env, n_exports = txn
                del exports[n_exports:]
                txn = None
            else:
                raise DtlNameError(f"compilation error: unsupported statement {stmt!r}")
        if txn is not None:
            raise DtlTransactionError("script ended inside an open BEGIN block")
        return exports

    def _exec_mutation(self, target: str, table: CompiledTable) -> CompiledTable:
        if self.traced:
            table = self._finalize_trace(target, table, "STATEMENT")
        return table

    # -- mutation statements -------------------------------------------------
    #
    # UPDATE/DELETE/INSERT are copy-on-write over script bindings: each
    # rebinds the target name to a new logical plan (a projection with
    # CASE WHEN, a filter, a union).  Nothing is executed here — Catalyst
    # fuses consecutive mutations into the downstream plan, so e.g.
    # UPDATE → SELECT collapses into one scan-project at any scale.  The
    # reference reserves the keywords with empty stub nodes (reference
    # nodes.py:331-354, no productions registered at parser.py:310-317);
    # the semantics below are this repo's extension.

    def _compile_update(self, stmt: n.UpdateStatement, env: dict) -> CompiledTable:
        binding, scope = self._mutation_scope(stmt.target, env)
        compiler = ExprCompiler(scope.columns)
        assigned: dict[str, Column] = {}
        for name, expr in stmt.assignments:
            sc = compiler.resolve(n.ColumnRef(namespace=None, name=name))
            if name in assigned:
                raise DtlNameError(
                    f"compilation error: duplicate SET assignment to {name!r}"
                )
            val, vt = compiler.compile(expr)
            if vt != sc.dtype:
                raise DtlTypeError(
                    f"Type error: UPDATE SET {name}: {vt} does not match "
                    f"column dtype {sc.dtype} (no coercion)"
                )
            assigned[name] = val
        pred = None
        if stmt.where is not None:
            pred, pt = compiler.compile(stmt.where)
            if pt != DType.BOOL:
                raise DtlTypeError(f"Type error: UPDATE WHERE is {pt}, not BOOL")
        selects = []
        for sc in scope.columns:
            if sc.name in assigned:
                # All SET expressions read the OLD row (simultaneous
                # assignment); rows not matching WHERE (incl. NULL) keep
                # their old value.
                new = assigned[sc.name]
                col = new if pred is None else F.when(pred, new).otherwise(F.col(sc.phys))
            else:
                col = F.col(sc.phys)
            selects.append(col.alias(sc.name))
        return self._mutation_table(binding, scope, selects)

    def _compile_delete(self, stmt: n.DeleteStatement, env: dict) -> CompiledTable:
        binding, scope = self._mutation_scope(stmt.target, env)
        if stmt.where is None:
            keep = F.lit(False)  # DELETE FROM t; empties the binding
        else:
            pred, pt = ExprCompiler(scope.columns).compile(stmt.where)
            if pt != DType.BOOL:
                raise DtlTypeError(f"Type error: DELETE WHERE is {pt}, not BOOL")
            # SQL DELETE semantics: rows are removed only where the
            # predicate is TRUE; NULL keeps the row.
            keep = ~pred.eqNullSafe(F.lit(True))
        scope = replace_df(scope, scope.df.filter(keep))
        selects = [F.col(sc.phys).alias(sc.name) for sc in scope.columns]
        return self._mutation_table(binding, scope, selects)

    def _compile_insert(self, stmt: n.InsertStatement, env: dict) -> CompiledTable:
        if stmt.target not in env:
            raise DtlNameError(f"compilation error: unknown table {stmt.target!r}")
        left = env[stmt.target]
        right = self.compile_table(stmt.expression, env)
        if left.columns != right.columns:
            raise DtlTypeError(
                f"Type error: INSERT INTO {stmt.target}: schemas differ: "
                f"{left.columns} vs {right.columns}"
            )
        if self.traced and right.uuid is None:
            right = self._finalize_trace("(insert)", right, "TABLE_EXPRESSION")
        names = left.column_names

        def _side(table: CompiledTable, side: int) -> DataFrame:
            cols = [F.col(c) for c in names]
            if self.ordered:
                # Normalize each side's order to a dense rank, then a
                # (side, rank) struct sorts existing rows before inserted
                # ones.  Global window = ordered mode's documented
                # small-data parity path (same shape as DISTINCT
                # CONSECUTIVE); the scale path below is a bare union.
                w = Window.orderBy(F.col(table.order_col).asc_nulls_last())
                rnk = F.row_number().over(w).cast("long")
                cols.append(
                    F.struct(F.lit(side).alias("s"), rnk.alias("o")).alias(ORDER_COL)
                )
            if self.traced:
                cols.append(F.col(table.rid_col))
            return table.df.select(*cols)

        df = _side(left, 0).unionByName(_side(right, 1), allowMissingColumns=True)
        return CompiledTable(
            df=df,
            columns=left.columns,
            order_col=ORDER_COL if self.ordered else None,
            src_rids=(
                ((left.uuid, left.rid_col), (right.uuid, right.rid_col))
                if self.traced
                else ()
            ),
        )

    def _mutation_scope(self, target: str, env: dict) -> tuple[CompiledTable, Scope]:
        if target not in env:
            raise DtlNameError(f"compilation error: unknown table {target!r}")
        binding = env[target]
        scope = self._scope_from_source(n.Source(name=target, alias=None), env)
        return binding, scope

    def _mutation_table(
        self, binding: CompiledTable, scope: Scope, selects: list[Column]
    ) -> CompiledTable:
        order_col = None
        if scope.order_cols:
            selects = selects + [F.col(scope.order_cols[0]).alias(ORDER_COL)]
            order_col = ORDER_COL
        src_rids: tuple[tuple[str, str], ...] = ()
        if self.traced and scope.rid_cols:
            selects = selects + [F.col(phys) for _, phys in scope.rid_cols]
            src_rids = tuple(scope.rid_cols)
        return CompiledTable(
            df=scope.df.select(*selects),
            columns=binding.columns,
            order_col=order_col,
            src_rids=src_rids,
        )

    # -- trace finalization ---------------------------------------------------

    def _finalize_trace(self, name: str, table: CompiledTable, level: str) -> CompiledTable:
        """Snapshot a statement's table and emit its row-level mappings.

        The Spark shape of the reference's tracer (io.py:75-122) +
        candidate-mapping generation (mappings.py:41-275): assign this
        table a fresh row id, materialize it once through the tracer
        (so every downstream mapping/action sees identical ids), then
        record one ``(src_rid, tgt_rid)`` mapping per contributing
        source — by-construction rids are two columns of the
        materialized table itself; deferred bridges become hash joins on
        the group key, exactly the reference's ManyToMany∘ManyToMany
        recipe (mappings.py:310-322).
        """
        uid = f"t{next(self._trace_ids):03d}_{name}"
        if table.uuid is not None:
            # passthrough of an already-finalized binding (TableRef /
            # re-EXPORT): same rows, same row ids — an alias of its
            # snapshot with an identity mapping
            self.tracer.record_alias(
                uid,
                table.uuid,
                name=name,
                level=level,
                columns=table.columns,
                rid_col=table.rid_col,
                df=table.df,
            )
            return replace(table, uuid=uid)
        rid = self._phys("r")
        df = table.df.withColumn(rid, F.monotonically_increasing_id())
        full = self.tracer.materialize(uid, df, level=level)
        self.tracer.record_table(
            uid, name=name, level=level, columns=table.columns, rid_col=rid
        )
        for src_uuid, phys in table.src_rids:
            self.tracer.record_column_mapping(
                src_uuid, uid, src_col=phys, tgt_col=rid, df=full
            )
        for src_uuid, bridge_df, bridge_phys in table.pending:
            pairs = (
                bridge_df.join(
                    full.select(
                        F.col(bridge_phys).alias("__bridge2"), F.col(rid)
                    ),
                    F.col("__bridge") == F.col("__bridge2"),
                )
                .select(F.col("__src_rid").alias("src_rid"), F.col(rid).alias("tgt_rid"))
                .dropDuplicates(["src_rid", "tgt_rid"])
            )
            self.tracer.record_mapping(src_uuid, uid, kind="by_key", pairs=pairs)
        keep = list(table.column_names)
        if table.order_col is not None:
            keep.append(table.order_col)
        keep.append(rid)
        return CompiledTable(
            df=full.select(*keep),
            columns=table.columns,
            order_col=table.order_col,
            uuid=uid,
            rid_col=rid,
        )

    # -- table expressions --------------------------------------------------

    def compile_table(self, node: n.TableExpression, env: dict) -> CompiledTable:
        if isinstance(node, n.ImportExpression):
            return self.import_table(node.location)
        if isinstance(node, n.TableRef):
            if node.name not in env:
                raise DtlNameError(f"compilation error: unknown table {node.name!r}")
            return env[node.name]
        if isinstance(node, n.SelectExpression):
            return self._compile_select(node, env)
        if isinstance(node, n.SetExpression):
            return self._compile_setop(node, env)
        raise DtlNameError(f"compilation error: unsupported table expression {node!r}")

    def import_table(self, location: str) -> CompiledTable:
        df = self.importer.import_table(location)
        cols: list[tuple[str, DType]] = []
        casts: list[Column] = []
        for field in df.schema.fields:
            dtype = dtype_from_spark(field.dataType)
            cols.append((field.name, dtype))
            if dtype == DType.DOUBLE and field.dataType.typeName() != "double":
                # float32 imports as DOUBLE (reference ast_to_ir.py:644);
                # cast physically so strict typing and Spark stay aligned.
                casts.append(F.col(field.name).cast("double").alias(field.name))
            else:
                casts.append(F.col(field.name))
        df = df.select(*casts)
        order_col = None
        if self.ordered:
            order_col = ORDER_COL
            df = df.withColumn(ORDER_COL, F.monotonically_increasing_id())
        return CompiledTable(df=df, columns=tuple(cols), order_col=order_col)

    # -- scope construction -------------------------------------------------

    def _phys(self, prefix: str = "c") -> str:
        return f"_{prefix}{next(self._ids)}"

    @staticmethod
    def _content_hash(df: DataFrame, names: list[str]) -> Column:
        """xxhash64 over row content with float columns normalized the
        way Spark's NormalizeFloatingNumbers does before grouping:
        -0.0 folds into 0.0 and every NaN bit pattern into the
        canonical NaN.  groupBy/dropDuplicates/set ops merge such rows
        into one group, so a trace bridge hashed over RAW bits would
        leave the -0.0/odd-NaN input rows matching no output bridge —
        silently missing from by_key lineage mappings."""
        from pyspark.sql import types as T

        kinds = {f.name: f.dataType for f in df.schema.fields}
        parts = []
        for c in names:
            col = F.col(c)
            if isinstance(kinds.get(c), (T.FloatType, T.DoubleType)):
                col = F.when(F.isnan(col), F.lit(float("nan"))).otherwise(
                    F.when(col == F.lit(0.0), F.lit(0.0)).otherwise(col)
                )
            parts.append(col)
        return F.xxhash64(*parts)

    def _scope_from_source(self, source: n.Source, env: dict) -> Scope:
        if source.name not in env:
            raise DtlNameError(f"compilation error: unknown table {source.name!r}")
        binding = env[source.name]
        alias = source.alias or source.name
        namespaces = frozenset({None, alias})
        selects: list[Column] = []
        columns: list[ScopeColumn] = []
        for name, dtype in binding.columns:
            phys = self._phys()
            selects.append(F.col(name).alias(phys))
            columns.append(
                ScopeColumn(name=name, namespaces=namespaces, phys=phys, dtype=dtype)
            )
        order_cols: list[str] = []
        if binding.order_col is not None:
            ophys = self._phys("o")
            selects.append(F.col(binding.order_col).alias(ophys))
            order_cols.append(ophys)
        rid_cols: list[tuple[str, str]] = []
        if self.traced and binding.rid_col is not None:
            rphys = self._phys("r")
            selects.append(F.col(binding.rid_col).alias(rphys))
            rid_cols.append((binding.uuid, rphys))
        return Scope(
            df=binding.df.select(*selects),
            columns=columns,
            order_cols=order_cols,
            rid_cols=rid_cols,
        )

    def _apply_join(self, scope: Scope, clause: n.JoinClause, env: dict) -> Scope:
        right = self._scope_from_source(clause.source, env)
        combined_cols = scope.columns + right.columns
        compiler = ExprCompiler(combined_cols)

        if clause.constraint is None:  # cross
            pred = None
        elif isinstance(clause.constraint, n.JoinOn):
            pred, pdtype = compiler.compile(clause.constraint.predicate)
            if pdtype != DType.BOOL:
                raise DtlTypeError(f"Type error: join predicate is {pdtype}, not BOOL")
        else:  # USING
            conds = []
            lcomp = ExprCompiler(scope.columns)
            rcomp = ExprCompiler(right.columns)
            for name in clause.constraint.columns:
                lsc = lcomp.resolve(n.ColumnRef(namespace=None, name=name))
                rsc = rcomp.resolve(n.ColumnRef(namespace=None, name=name))
                if lsc.dtype != rsc.dtype:
                    raise DtlTypeError(
                        f"Type error: USING ({name}): {lsc.dtype} vs {rsc.dtype}"
                    )
                conds.append(F.col(lsc.phys) == F.col(rsc.phys))
            pred = conds[0]
            for c in conds[1:]:
                pred = pred & c

        how = {
            "inner": "inner",
            "left": "left_outer",
            "right": "right_outer",
            "full": "full_outer",
            "cross": "cross",
            "semi": "left_semi",
            "anti": "left_anti",
        }[clause.how]

        if how == "cross":
            df = scope.df.crossJoin(right.df)
        else:
            df = scope.df.join(right.df, on=pred, how=how)

        if clause.how in ("semi", "anti"):
            # Right side exists only inside the predicate.
            return Scope(
                df=df,
                columns=list(scope.columns),
                order_cols=scope.order_cols,
                rid_cols=scope.rid_cols,
            )
        # Join output order is left-major deterministic (reference
        # eval.py:168-171): left orders are major keys, right minor.
        return Scope(
            df=df,
            columns=list(combined_cols),
            order_cols=scope.order_cols + right.order_cols,
            rid_cols=scope.rid_cols + right.rid_cols,
        )

    def _combine_orders(self, scope_df: DataFrame, order_cols: list[str]) -> tuple[DataFrame, str | None]:
        """Collapse multiple hidden order columns into one sortable column."""
        if not order_cols:
            return scope_df, None
        if len(order_cols) == 1:
            return scope_df, order_cols[0]
        phys = self._phys("o")
        return (
            scope_df.withColumn(phys, F.struct(*[F.col(o) for o in order_cols])),
            phys,
        )

    # -- SELECT -------------------------------------------------------------

    def _compile_select(self, node: n.SelectExpression, env: dict) -> CompiledTable:
        scope = self._scope_from_source(node.source, env)
        for clause in node.joins:
            scope = self._apply_join(scope, clause, env)

        if node.where is not None:
            pred, pdtype = ExprCompiler(scope.columns).compile(node.where)
            if pdtype != DType.BOOL:
                raise DtlTypeError(f"Type error: WHERE predicate is {pdtype}, not BOOL")
            scope = replace_df(scope, scope.df.filter(pred))

        has_agg = any(
            isinstance(c, (n.Aliased, n.Implicit)) and _contains_aggregate(c.expression)
            for c in node.columns
        )
        if node.group_by is not None or has_agg:
            return self._compile_aggregate_select(node, scope)

        if node.having is not None:
            raise DtlNameError("compilation error: HAVING requires GROUP BY")

        # plain projection
        compiler = ExprCompiler(scope.columns)
        items: list[tuple[str, Column, DType]] = []
        for binding in node.columns:
            if isinstance(binding, n.Wildcard):
                # all scope columns, namespaces stripped (reference
                # nodes.py:183-185; after a join this includes both sides,
                # duplicates feeding the last-wins dedup below)
                for sc in scope.columns:
                    items.append((sc.name, F.col(sc.phys), sc.dtype))
            elif isinstance(binding, n.Aliased):
                col, dtype = compiler.compile(binding.expression)
                items.append((binding.name, col, dtype))
            else:
                name = derive_name(binding.expression)
                col, dtype = compiler.compile(binding.expression)
                items.append((name, col, dtype))

        # duplicate output names: position of first occurrence, value of
        # last (reference ast_to_ir.py:622-628 builds a dict keyed on name)
        dedup: dict[str, tuple[Column, DType]] = {}
        for name, col, dtype in items:
            dedup[name] = (col, dtype)

        out_cols = tuple((name, dtype) for name, (_, dtype) in dedup.items())
        select_list = [col.alias(name) for name, (col, _) in dedup.items()]

        df, order_col = self._combine_orders(scope.df, scope.order_cols)
        hidden = [F.col(p) for _, p in scope.rid_cols]
        if order_col is not None:
            df = df.select(*select_list, F.col(order_col).alias(ORDER_COL), *hidden)
            order_col = ORDER_COL
        else:
            df = df.select(*select_list, *hidden)

        result = CompiledTable(
            df=df,
            columns=out_cols,
            order_col=order_col,
            src_rids=tuple(scope.rid_cols),
        )
        result = self._apply_distinct(result, node.distinct)
        return self._apply_order_limit(result, node)

    # -- DISTINCT -----------------------------------------------------------

    def _apply_distinct(self, table: CompiledTable, distinct: str | None) -> CompiledTable:
        if distinct is None:
            return table
        names = table.column_names
        if distinct == "all":
            # SELECT DISTINCT — parsed but silently dropped by the
            # reference compiler (SURVEY.md §2.4); implemented for real
            # here.  First occurrence kept in ordered mode.
            df = table.df
            src_rids, pending = table.src_rids, table.pending
            bphys = None
            if self.traced and (src_rids or pending):
                # distinct destroys row identity: convert by-construction
                # rids (and any earlier bridges) into a content-hash
                # bridge so ALL duplicate input rows map to the one kept
                # output row (many-to-one, reference mappings.py:9-38)
                bphys = self._phys("b")
                bexpr = self._content_hash(df, names)
                df = df.withColumn(bphys, bexpr)
                new_pending: list[tuple[str, DataFrame, str]] = []
                for src_uuid, phys in src_rids:
                    new_pending.append(
                        (
                            src_uuid,
                            df.select(
                                F.col(phys).alias("__src_rid"),
                                F.col(bphys).alias("__bridge"),
                            ),
                            bphys,
                        )
                    )
                for src_uuid, bdf, old_bphys in pending:
                    comp = (
                        bdf.join(
                            df.select(
                                F.col(old_bphys).alias("__ob"),
                                F.col(bphys).alias("__nb"),
                            ),
                            F.col("__bridge") == F.col("__ob"),
                        )
                        .select(
                            F.col("__src_rid"), F.col("__nb").alias("__bridge")
                        )
                        .dropDuplicates()
                    )
                    new_pending.append((src_uuid, comp, bphys))
                src_rids, pending = (), tuple(new_pending)
            if table.order_col is None:
                return replace(
                    table,
                    df=df.dropDuplicates(names),
                    src_rids=src_rids,
                    pending=pending,
                )
            out = (
                df.groupBy(*[F.col(c) for c in names])
                .agg(F.min(F.col(table.order_col)).alias(ORDER_COL))
            )
            if bphys is not None:
                out = out.withColumn(bphys, self._content_hash(out, names))
            return replace(
                table,
                df=out,
                order_col=ORDER_COL,
                src_rids=src_rids,
                pending=pending,
            )
        # DISTINCT CONSECUTIVE: run-length dedup over row order (semantics
        # documented at reference nodes.py:169-173; never implemented
        # there).  Inherently sequential — ordered mode only.
        if table.order_col is None:
            raise DtlOrderError(
                "DISTINCT CONSECUTIVE requires ordered mode (row order is "
                "not observable in unordered/scale mode)"
            )
        w = Window.orderBy(F.col(table.order_col).asc_nulls_last())
        changed = F.lit(False)
        for name in names:
            prev = F.lag(F.col(name)).over(w)
            changed = changed | ~prev.eqNullSafe(F.col(name))
        is_first = F.row_number().over(w) == 1
        df = (
            table.df.withColumn("__dtl_keep", is_first | changed)
            .filter(F.col("__dtl_keep"))
            .drop("__dtl_keep")
        )
        return replace(table, df=df)

    # -- GROUP BY / aggregation ---------------------------------------------

    def _compile_aggregate_select(self, node: n.SelectExpression, scope: Scope) -> CompiledTable:
        compiler = ExprCompiler(scope.columns)
        group_by = node.group_by
        group_exprs: list[n.Expression] = list(group_by.expressions) if group_by else []
        consecutive = bool(group_by and group_by.consecutive)

        # compile grouping expressions into physical key columns
        key_info: list[tuple[n.Expression, str, DType]] = []
        df = scope.df
        for gexpr in group_exprs:
            col, dtype = compiler.compile(gexpr)
            phys = self._phys("g")
            df = df.withColumn(phys, col)
            key_info.append((gexpr, phys, dtype))

        if consecutive:
            # GROUP CONSECUTIVE BY: only adjacent equal-key runs form a
            # group (reference nodes.py:283-288, never implemented).
            # Gaps-and-islands over the hidden order column.
            if not scope.order_cols:
                raise DtlOrderError(
                    "GROUP CONSECUTIVE BY requires ordered mode (row order "
                    "is not observable in unordered/scale mode)"
                )
            df, ocol = self._combine_orders(df, scope.order_cols)
            w = Window.orderBy(F.col(ocol).asc_nulls_last())
            changed = F.lit(False)
            for _, phys, _ in key_info:
                prev = F.lag(F.col(phys)).over(w)
                changed = changed | ~prev.eqNullSafe(F.col(phys))
            island = F.sum(F.when(changed, 1).otherwise(0)).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            island_phys = self._phys("g")
            df = df.withColumn(island_phys, island)
            scope = Scope(
                df=df,
                columns=scope.columns,
                order_cols=[ocol],
                rid_cols=scope.rid_cols,
            )
            grouping_phys = [island_phys] + [phys for _, phys, _ in key_info]
        else:
            scope = Scope(
                df=df,
                columns=scope.columns,
                order_cols=scope.order_cols,
                rid_cols=scope.rid_cols,
            )
            grouping_phys = [phys for _, phys, _ in key_info]

        # aggregate collection: walk each select item, turning aggregate
        # calls into agg slots and group-expression matches into key refs
        agg_slots: list[tuple[str, Column]] = []

        def compile_item(expr: n.Expression) -> tuple[Column, DType]:
            for gexpr, phys, dtype in key_info:
                if expr == gexpr:
                    return F.col(phys), dtype
            if isinstance(expr, n.FunctionCall) and expr.name in fnlib.AGGREGATES:
                builtin = fnlib.AGGREGATES[expr.name]
                compiled_args = [compiler.compile(a) for a in expr.args]
                result_dtype = builtin.check([dt for _, dt in compiled_args])
                agg_col = builtin.build(*[c for c, _ in compiled_args])
                slot = self._phys("a")
                agg_slots.append((slot, agg_col))
                return F.col(slot), result_dtype
            if isinstance(expr, n.Literal):
                return compiler.compile(expr)
            if isinstance(expr, n.BinaryOp):
                lc, lt = compile_item(expr.left)
                rc, rt = compile_item(expr.right)
                return build_binary(expr.op, lc, lt, rc, rt)
            if isinstance(expr, n.UnaryOp):
                oc, ot = compile_item(expr.operand)
                return build_unary(expr.op, oc, ot)
            if isinstance(expr, n.FunctionCall):
                builtin = fnlib.SCALARS.get(expr.name)
                if builtin is None:
                    raise DtlNameError(
                        f"compilation error: unknown function {expr.name!r}"
                    )
                return build_scalar_call(builtin, expr, compile_item)
            if isinstance(expr, n.ColumnRef):
                raise DtlNameError(
                    f"compilation error: column {expr.name!r} must appear in "
                    "GROUP BY or be used inside an aggregate function"
                )
            raise DtlNameError(f"compilation error: unsupported expression {expr!r}")

        items: list[tuple[str, n.Expression]] = []
        for binding in node.columns:
            if isinstance(binding, n.Wildcard):
                raise DtlNameError(
                    "compilation error: * cannot be used with GROUP BY / aggregates"
                )
            if isinstance(binding, n.Aliased):
                items.append((binding.name, binding.expression))
            else:
                items.append((derive_name(binding.expression), binding.expression))

        # First pass: compile all items (fills agg_slots), plus HAVING and
        # ORDER BY so their aggregates land in the same aggregation.
        compiled_items = [(name, compile_item(expr)) for name, expr in items]
        having_compiled = None
        if node.having is not None:
            having_compiled = compile_item(node.having)
            if having_compiled[1] != DType.BOOL:
                raise DtlTypeError(
                    f"Type error: HAVING predicate is {having_compiled[1]}, not BOOL"
                )
        # ORDER BY here resolves output aliases first (SQL semantics),
        # then arbitrary expressions over keys/aggregates.
        item_map = {name: compiled for name, compiled in compiled_items}
        order_compiled: list[tuple[tuple[Column, DType], bool]] = []
        for item in node.order_by:
            e = item.expression
            if (
                isinstance(e, n.ColumnRef)
                and e.namespace is None
                and e.name in item_map
            ):
                order_compiled.append((item_map[e.name], item.descending))
            else:
                order_compiled.append((compile_item(e), item.descending))

        aggs = [col.alias(slot) for slot, col in agg_slots]
        order_col = None
        if scope.order_cols:
            df2, ocol = self._combine_orders(scope.df, scope.order_cols)
            aggs.append(F.min(F.col(ocol)).alias(ORDER_COL))
            order_col = ORDER_COL
            base = df2
        else:
            base = scope.df

        if grouping_phys:
            grouped = base.groupBy(*[F.col(p) for p in grouping_phys])
        else:
            grouped = base.groupBy()
        if not aggs:
            aggs = [F.count(F.lit(1)).alias(self._phys("a"))]
        agged = grouped.agg(*aggs)

        # traced: aggregation collapses rows many-to-one; bridge input
        # rids to output rows via a hash of the grouping keys (the
        # group itself is the only surviving identity)
        pending: tuple[tuple[str, DataFrame, str], ...] = ()
        bridge_phys = None
        if self.traced and scope.rid_cols:
            bridge_phys = self._phys("b")
            if grouping_phys:
                bexpr = self._content_hash(base, list(grouping_phys))
            else:
                bexpr = F.lit(0).cast("long")
            agged = agged.withColumn(bridge_phys, bexpr)
            bridged_base = base.withColumn(bridge_phys, bexpr)
            pending = tuple(
                (
                    src_uuid,
                    bridged_base.select(
                        F.col(phys).alias("__src_rid"),
                        F.col(bridge_phys).alias("__bridge"),
                    ),
                    bridge_phys,
                )
                for src_uuid, phys in scope.rid_cols
            )

        if having_compiled is not None:
            agged = agged.filter(having_compiled[0])

        # ORDER BY / LIMIT apply pre-projection so sort expressions can
        # reference aggregate slots that the projection drops.
        if order_compiled:
            sort_cols = [
                (F.desc(col) if desc else F.asc(col))
                for (col, _dtype), desc in order_compiled
            ]
            agged = agged.orderBy(*sort_cols)
            if order_col is not None:
                w = Window.orderBy(*sort_cols)
                agged = agged.withColumn(ORDER_COL, F.row_number().over(w))
        if node.limit is not None and node.distinct is None:
            if not order_compiled and order_col is not None:
                # ordered mode, LIMIT without ORDER BY: the first n rows
                # by the hidden order — a bare .limit() would grab n
                # arbitrary rows from whichever partitions respond first
                agged = agged.orderBy(F.col(ORDER_COL))
            agged = agged.limit(node.limit)

        dedup: dict[str, tuple[Column, DType]] = {}
        for name, (col, dtype) in compiled_items:
            dedup[name] = (col, dtype)
        out_cols = tuple((name, dtype) for name, (_, dtype) in dedup.items())
        select_list = [col.alias(name) for name, (col, _) in dedup.items()]
        hidden = [F.col(bridge_phys)] if bridge_phys is not None else []
        if order_col is not None:
            agged = agged.select(*select_list, F.col(ORDER_COL), *hidden)
        else:
            agged = agged.select(*select_list, *hidden)

        result = CompiledTable(
            df=agged, columns=out_cols, order_col=order_col, pending=pending
        )
        if node.distinct is not None:
            if order_compiled:
                raise DtlNameError(
                    "compilation error: DISTINCT with both GROUP BY and "
                    "ORDER BY is not supported"
                )
            result = self._apply_distinct(result, node.distinct)
            if node.limit is not None:
                # LIMIT applies AFTER the dedup (SQL semantics and the
                # plain-select path agree): limiting first could collapse
                # below n even when n distinct rows exist
                ldf = result.df
                if result.order_col is not None:
                    ldf = ldf.orderBy(F.col(result.order_col))
                result = replace(result, df=ldf.limit(node.limit))
        return result

    # -- ORDER BY / LIMIT ---------------------------------------------------

    def _apply_order_limit(
        self, table: CompiledTable, node: n.SelectExpression
    ) -> CompiledTable:
        df = table.df
        order_col = table.order_col
        if node.order_by:
            # ORDER BY on a plain select refers to output columns
            out_scope = [
                ScopeColumn(
                    name=name, namespaces=frozenset({None}), phys=name, dtype=dtype
                )
                for name, dtype in table.columns
            ]
            compiler = ExprCompiler(out_scope)
            sort_cols = []
            for item in node.order_by:
                col, _ = compiler.compile(item.expression)
                sort_cols.append(F.desc(col) if item.descending else F.asc(col))
            df = df.orderBy(*sort_cols)
            if order_col is not None:
                # ORDER BY redefines row order; re-derive the hidden order
                # column.  Global window — ordered mode is test-scale only.
                w = Window.orderBy(*sort_cols)
                df = df.withColumn(ORDER_COL, F.row_number().over(w))
                order_col = ORDER_COL
        if node.limit is not None:
            if not node.order_by and order_col is not None:
                # ordered mode, LIMIT without ORDER BY: first n by the
                # hidden order column (reference positional semantics),
                # not n partition-arbitrary rows
                df = df.orderBy(F.col(order_col))
            df = df.limit(node.limit)
        return replace(table, df=df, order_col=order_col)

    # -- set operations ------------------------------------------------------

    def _compile_setop(self, node: n.SetExpression, env: dict) -> CompiledTable:
        left = self.compile_table(node.left, env)
        right = self.compile_table(node.right, env)
        if self.traced:
            # set ops dedup/compare whole rows, destroying row identity;
            # finalize each operand as its own trace table (reference
            # Level.TABLE_EXPRESSION, ir.py:371-403) so we can bridge
            # output rows back by content hash
            if left.uuid is None:
                left = self._finalize_trace("(setop)", left, "TABLE_EXPRESSION")
            if right.uuid is None:
                right = self._finalize_trace("(setop)", right, "TABLE_EXPRESSION")
        if [c for c, _ in left.columns] != [c for c, _ in right.columns] or [
            d for _, d in left.columns
        ] != [d for _, d in right.columns]:
            raise DtlTypeError(
                f"Type error: set operation schemas differ: "
                f"{left.columns} vs {right.columns}"
            )
        names = left.column_names
        # NOTE: the operand sort (public_df) in ordered mode is
        # load-bearing, not waste: the fresh monotonically_increasing_id
        # below numbers rows by partition sequence, and only globally
        # sorted operands make that numbering deterministic across
        # partition layouts (ordered mode is test-scale by contract).
        ldf = left.public_df() if left.order_col else left.df.select(*names)
        rdf = right.public_df() if right.order_col else right.df.select(*names)
        pending: tuple[tuple[str, DataFrame, str], ...] = ()
        bphys = None
        if node.op == "union_all" and self.traced:
            # union-all PRESERVES row identity, so the bridge is the
            # source rid itself (salted by side) — exact by-construction
            # lineage; a content hash here would cross-attribute
            # identical rows between operands (a row present in both
            # sides would trace to BOTH sources)
            bphys = self._phys("b")
            # ordered mode: sort each operand first so the fresh
            # monotonic order below stays deterministic (same contract
            # as the untraced branch's public_df)
            lsrc = (
                left.df.orderBy(left.order_col) if left.order_col else left.df
            )
            rsrc = (
                right.df.orderBy(right.order_col)
                if right.order_col
                else right.df
            )
            lb = lsrc.select(
                *names,
                F.xxhash64(F.lit(0), F.col(left.rid_col)).alias(bphys),
            )
            rb = rsrc.select(
                *names,
                F.xxhash64(F.lit(1), F.col(right.rid_col)).alias(bphys),
            )
            df = lb.unionByName(rb)
            pending = tuple(
                (
                    side.uuid,
                    side.df.select(
                        F.col(side.rid_col).alias("__src_rid"),
                        F.xxhash64(
                            F.lit(tag), F.col(side.rid_col)
                        ).alias("__bridge"),
                    ),
                    bphys,
                )
                for tag, side in ((0, left), (1, right))
            )
        elif node.op == "union_all":
            df = ldf.unionByName(rdf)
        elif node.op == "union":
            df = ldf.unionByName(rdf).dropDuplicates(names)
        elif node.op == "intersect":
            df = ldf.intersect(rdf)
        else:  # except
            df = ldf.subtract(rdf)
        order_col = None
        if self.ordered:
            # Set ops have no reference-order semantics; assign fresh order.
            df = df.withColumn(ORDER_COL, F.monotonically_increasing_id())
            order_col = ORDER_COL
        if self.traced and bphys is None:
            # dedup/compare ops genuinely destroy identity: bridge by
            # (float-normalized) content hash, many-to-one
            bphys = self._phys("b")
            df = df.withColumn(bphys, self._content_hash(df, names))
            sides = (left,) if node.op == "except" else (left, right)
            pending = tuple(
                (
                    side.uuid,
                    side.df.select(
                        F.col(side.rid_col).alias("__src_rid"),
                        self._content_hash(side.df, names).alias("__bridge"),
                    ),
                    bphys,
                )
                for side in sides
            )
        return CompiledTable(
            df=df, columns=left.columns, order_col=order_col, pending=pending
        )


def replace_df(scope: Scope, df: DataFrame) -> Scope:
    return Scope(
        df=df,
        columns=scope.columns,
        order_cols=scope.order_cols,
        rid_cols=scope.rid_cols,
    )


def build_binary(op: str, lc: Column, lt: DType, rc: Column, rt: DType) -> tuple[Column, DType]:
    """Strict-typed binary operator construction over compiled operands.

    Matches reference semantics: both sides must be exactly the same DTL
    dtype (reference ast_to_ir.py:209-213, 235-241, 258-264, 281-287,
    304-310, 327-333); no coercion ever.
    """
    if op in ("+", "-", "*"):
        if lt != rt or lt not in NUMERIC_DTYPES:
            raise DtlTypeError(f"Type error: {lt} {op} {rt}")
        return {"+": lc + rc, "-": lc - rc, "*": lc * rc}[op], lt
    if op == "/":
        if lt != rt or lt not in NUMERIC_DTYPES:
            raise DtlTypeError(f"Type error: {lt} {op} {rt}")
        if lt in (DType.INT32, DType.INT64):
            # pyarrow's divide on integers is C-style truncating division
            # (reference eval.py:214-224). Spark's `div` (IntegralDivide)
            # matches it exactly: truncates toward zero, stays in integer
            # arithmetic (exact beyond 2^53 where a double round-trip is
            # not), and under ANSI mode raises on divide-by-zero just as
            # pyarrow raises. `div` always yields LONG; cast back to the
            # declared integral dtype.
            return F.call_function("div", lc, rc).cast(spark_type_for(lt)), lt
        return lc / rc, lt
    if op == "%":
        if lt != rt or lt not in (DType.INT32, DType.INT64):
            raise DtlTypeError(f"Type error: {lt} {op} {rt}")
        return lc % rc, lt
    if op in ("=", "!="):
        if lt != rt or lt not in _EQ_DTYPES:
            raise DtlTypeError(f"Type error: {lt} {op} {rt}")
        return (lc == rc) if op == "=" else (lc != rc), DType.BOOL
    if op in ("<", "<=", ">", ">="):
        if lt != rt or lt not in ORDERED_DTYPES:
            raise DtlTypeError(f"Type error: {lt} {op} {rt}")
        return {"<": lc < rc, "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc}[op], DType.BOOL
    if op in ("&", "|"):
        if lt != DType.BOOL or rt != DType.BOOL:
            raise DtlTypeError(f"Type error: {lt} {op} {rt}")
        return (lc & rc) if op == "&" else (lc | rc), DType.BOOL
    raise DtlNameError(f"compilation error: unknown operator {op!r}")


_LITERAL_DTYPES = {
    "int": DType.INT64,
    "float": DType.DOUBLE,
    "string": DType.TEXT,
    "bool": DType.BOOL,
    # kept in lockstep with ExprCompiler._literal: a literal kind
    # missing here crashes literal_args positions with a raw KeyError
    # instead of the type check's DtlTypeError (r18 review find —
    # `round_to(x, b'ab')` must type-fail, not crash)
    "bytes": DType.BYTES,
}


def build_scalar_call(builtin, node: n.FunctionCall, compile_arg) -> tuple[Column, DType]:
    """Compile a scalar builtin call; ``literal_args`` positions must be
    literal constants and are handed to the builder as raw values."""
    arg_dtypes: list[DType] = []
    arg_values: list[object] = []
    for i, arg in enumerate(node.args):
        if i in builtin.literal_args:
            if not isinstance(arg, n.Literal):
                raise DtlTypeError(
                    f"Type error: argument {i + 1} of {builtin.name} must be "
                    "a literal constant"
                )
            arg_dtypes.append(_LITERAL_DTYPES[arg.kind])
            arg_values.append(arg.value)
        else:
            col, dtype = compile_arg(arg)
            arg_dtypes.append(dtype)
            arg_values.append(col)
    result_dtype = builtin.check(arg_dtypes)
    return builtin.build(*arg_values), result_dtype


def build_unary(op: str, oc: Column, ot: DType) -> tuple[Column, DType]:
    if op == "!":
        if ot != DType.BOOL:
            raise DtlTypeError(f"Type error: !{ot}")
        return ~oc, DType.BOOL
    if op == "-":
        if ot not in NUMERIC_DTYPES:
            raise DtlTypeError(f"Type error: -{ot}")
        return -oc, ot
    raise DtlNameError(f"compilation error: unknown operator {op!r}")
