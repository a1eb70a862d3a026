"""Row-level provenance ("trace mode") — the reference's differentiator.

The reference devotes roughly a third of its codebase to explainability
(/root/reference/src/dtl/mappings.py, manifest.py, the Tracer in
io.py:75-122): alongside outputs it records a snapshot of every
intermediate table plus *mappings* relating each row of each snapshot to
the rows of every other snapshot.

Spark-first re-expression (SURVEY.md §2.7):

* every finalized statement table gets a hidden ``__dtl_r*`` row-id
  column (``monotonically_increasing_id`` — distributed, no shuffle);
* the table is **materialized once** through the tracer before any
  mapping is derived from it, so all actions observe identical ids
  (the reference materializes every array too, eval.py:534-543 — here
  it's a distributed parquet write, not driver memory);
* a mapping is a ``(src_rid, tgt_rid)`` pairs DataFrame.  Operators
  that preserve row identity (project/filter/join) produce it *by
  construction* — the source rids are threaded through the plan as
  hidden columns.  Operators that destroy identity (aggregate/
  distinct/set ops) produce it *by key*: a hash join between input
  rids and output rows on the group key — exactly the reference's own
  composition recipe ("SELECT fst.src_index, snd.tgt_index FROM fst
  JOIN snd ON fst.tgt_index = snd.src_index", mappings.py:310-322),
  which Catalyst executes as a broadcast/shuffled hash join;
* mapping *composition* across statements is the same join, exposed as
  :func:`compose`; :meth:`TraceReader.lineage` composes it along every
  path into the full transitive relation.  Provenance questions
  (:meth:`TraceReader.why` / :meth:`~TraceReader.where_used`) do not:
  they push the asked rows' rids through the trace one hop at a time as
  semi-join frontiers, so a question costs in proportion to the asked
  rows' lineage, not to the size of the trace.

Scale note: trace mode is opt-in.  Per statement it writes one
snapshot, plus one mapping file per ``by_key``, pipeline or sampled
mapping; a by-construction mapping is no file of its own but two columns
(hidden source rid, new rid) of its target's snapshot, and a passthrough
(``EXPORT x`` / ``WITH y AS x``) shares its binding's snapshot and rids.
The ``trace.json`` manifest records each file's Spark ``schema``, so
no trace read runs a schema-inference job, and for a by-construction
mapping the two ``columns`` to project (see :class:`FileSystemTracer`).
At 100 TB you enable it for audited runs, or snapshot only selected
levels.  The mapping files are narrow two-column tables that partition
and join on rid with no skew.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# trace levels, mirroring reference ir.py:371-403 (Level enum)
LEVELS = (
    "EXPORT",
    "ASSERTION",
    "STATEMENT",
    "TABLE_EXPRESSION",
    "COLUMN_EXPRESSION",
    "INTERNAL",
)


@dataclass
class TableRecord:
    id: str
    name: str
    level: str
    columns: list[dict]
    row_id: str
    path: str | None  # None for in-memory tracers
    schema: dict | None = None  # Spark schema of the file at ``path``


@dataclass
class MappingRecord:
    id: str
    src: str
    tgt: str
    kind: str  # by_construction | by_key
    path: str | None
    schema: dict | None = None  # Spark schema of the columns read at ``path``
    # ``[src_col, tgt_col]`` inside a snapshot or pin file; None means
    # ``path`` is a ``(src_rid, tgt_rid)`` pairs file
    columns: list[str] | None = None


def _column_pairs(df: DataFrame, src_col: str, tgt_col: str) -> DataFrame:
    """The ``(src_rid, tgt_rid)`` pairs held by two rid columns of one
    frame.  Outer joins leave unmatched-side source rids NULL: such rows
    have no source row and yield no pair."""
    return df.filter(F.col(src_col).isNotNull()).select(
        F.col(src_col).alias("src_rid"), F.col(tgt_col).alias("tgt_rid")
    )


class FileSystemTracer:
    """Writes snapshots + mappings as parquet and a ``trace.json``
    manifest (reference FileSystemTracer, io.py:96-122; manifest format
    inspired by manifest.py:10-59).

    Per statement it writes one snapshot under ``tables/`` (or, for a
    level excluded from ``snapshot_levels``, a pin: nothing, or one file
    under ``pins/``), plus one file under ``mappings/`` per ``by_key``,
    pipeline or sampled mapping.  A by-construction mapping is recorded
    as two columns of its target's snapshot or pin file, and is written
    as a pairs file only when that target has no file (a
    ``localCheckpoint`` pin).  A passthrough shares its binding's file.

    Manifest (``version`` 1): each table record carries its ``path``
    and the Spark ``schema`` of the file there; each mapping record
    carries ``path``, ``schema`` and ``columns`` — ``[src_col,
    tgt_col]`` to project out of the file at ``path``, or null for a
    ``(src_rid, tgt_rid)`` pairs file.  Readers use the recorded schemas
    instead of inferring them, and treat a missing ``schema`` /
    ``columns`` key (traces written before these keys existed) as
    "infer" / "pairs file"."""

    def __init__(
        self,
        root: str,
        snapshot_levels: list[str] | None = None,
        mapping_sample: int | None = None,
        pin: str = "local",
    ):
        """``snapshot_levels`` is the 100 TB valve: when set, only
        tables at those levels (e.g. ``["EXPORT"]``) are written as full
        parquet snapshots; everything else runs *mapping-only* — row ids
        are pinned in executor storage (``localCheckpoint``) so the
        narrow (src_rid, tgt_rid) mapping tables are still exact, but no
        table-sized copy hits disk per statement.  ``None`` snapshots
        every level (reference behavior, io.py:96-122).

        ``mapping_sample=m`` is the second valve, for when even the
        narrow mappings (linear in rows) are too much at 100 TB: each
        mapping keeps only pairs whose ``xxhash64(src_rid) % m == 0``.
        Confidence contract — deterministic, not statistical: the kept
        subset is an EXACT, replayable forward lineage ("which outputs
        did this input row produce") for a fixed pseudo-random ~1/m of
        each mapping's source rows; an auditor re-derives the same
        subset from the rids alone.  Because the hash is over each
        mapping's own source rid, a k-hop transitive walk through
        ``TraceReader`` retains a chain with probability ~(1/m)^(k-1)
        — cross-statement audits should use ``m=None`` (exact) or walk
        single hops between snapshot levels.  The manifest records the
        sampling so readers can tell exact from sampled mappings.

        ``pin`` controls how mapping-only tables are pinned:
        ``"local"`` (default) uses ``localCheckpoint`` — free of disk
        writes but stored in executor-local blocks, so a LOST EXECUTOR
        makes the pinned rids unrecoverable (monotonically_increasing_id
        cannot be replayed) and aborts the audited run; ``"parquet"``
        writes a pin file under ``{root}/pins/`` — survives executor
        loss at the cost of one narrow-table write per statement (still
        far below full snapshots, which copy every column at every
        level).  On a real preemptible cluster use ``"parquet"``."""
        self.root = root
        self.snapshot_levels = (
            None if snapshot_levels is None else set(snapshot_levels)
        )
        if mapping_sample is not None and mapping_sample < 2:
            raise ValueError(f"mapping_sample must be >= 2, got {mapping_sample}")
        self.mapping_sample = mapping_sample
        if pin not in ("local", "parquet"):
            raise ValueError(f"pin must be 'local' or 'parquet', got {pin!r}")
        self.pin = pin
        # uid -> (path relative to root, schema) of its snapshot or pin file
        self._files: dict[str, tuple[str, StructType]] = {}
        os.makedirs(os.path.join(root, "tables"), exist_ok=True)
        os.makedirs(os.path.join(root, "mappings"), exist_ok=True)
        self.tables: list[TableRecord] = []
        self.mappings: list[MappingRecord] = []

    def _snapshots(self, level: str) -> bool:
        return self.snapshot_levels is None or level in self.snapshot_levels

    def _snapshot_file(self, uid: str) -> tuple[str, StructType] | None:
        file = self._files.get(uid)
        return file if file is not None and file[0].startswith("tables/") else None

    def _write(self, uid: str, rel: str, df: DataFrame) -> DataFrame:
        path = os.path.join(self.root, rel)
        df.write.mode("overwrite").parquet(path)
        self._files[uid] = (rel, df.schema)
        # the known schema spares the read-back its inference job
        return df.sparkSession.read.schema(df.schema).parquet(path)

    # -- engine-facing hooks --------------------------------------------------

    def materialize(self, uid: str, df: DataFrame, level: str = "STATEMENT") -> DataFrame:
        """Pin the working table (data + hidden rid columns) once and
        hand back the materialized frame: every downstream mapping and
        the snapshot itself observe the same row ids."""
        if not self._snapshots(level):
            if self.pin == "parquet":
                os.makedirs(os.path.join(self.root, "pins"), exist_ok=True)
                return self._write(uid, f"pins/{uid}.parquet", df)
            return df.localCheckpoint(eager=True)
        return self._write(uid, f"tables/{uid}.parquet", df)

    def record_table(self, uid, *, name, level, columns, rid_col) -> None:
        file = self._snapshot_file(uid)
        self.tables.append(
            TableRecord(
                id=uid,
                name=name,
                level=level,
                columns=[{"name": c, "dtype": d.name} for c, d in columns],
                row_id=rid_col,
                path=None if file is None else file[0],
                schema=None if file is None else file[1].jsonValue(),
            )
        )

    def record_mapping(self, src, tgt, *, kind, pairs: DataFrame) -> None:
        mid = f"m{len(self.mappings):03d}"
        path = os.path.join(self.root, "mappings", f"{mid}.parquet")
        if self.mapping_sample is not None:
            # deterministic rid-hash sample — the same source rows are
            # kept on every run/retry, and an auditor can re-derive the
            # kept set from the rids alone (see __init__ contract)
            pairs = pairs.filter(
                F.pmod(F.xxhash64(F.col("src_rid")), self.mapping_sample) == 0
            )
        pairs.write.mode("overwrite").parquet(path)
        self.mappings.append(
            MappingRecord(
                id=mid,
                src=src,
                tgt=tgt,
                kind=kind,
                path=f"mappings/{mid}.parquet",
                schema=pairs.schema.jsonValue(),
            )
        )

    def record_column_mapping(self, src, tgt, *, src_col, tgt_col, df: DataFrame) -> None:
        """A by-construction mapping: ``tgt``'s materialized frame ``df``
        holds the source rids in ``src_col`` next to its own rids in
        ``tgt_col``.  When ``tgt`` has a file, the mapping is recorded
        as those two columns of it and nothing is written; otherwise
        (``localCheckpoint`` pin, or a sampled trace) the pairs are
        written through :meth:`record_mapping`."""
        file = self._files.get(tgt)
        if file is None or self.mapping_sample is not None:
            pairs = _column_pairs(df, src_col, tgt_col)
            self.record_mapping(src, tgt, kind="by_construction", pairs=pairs)
            return
        rel, schema = file
        names = list(dict.fromkeys((src_col, tgt_col)))
        self.mappings.append(
            MappingRecord(
                id=f"m{len(self.mappings):03d}",
                src=src,
                tgt=tgt,
                kind="by_construction",
                path=rel,
                schema=StructType([schema[c] for c in names]).jsonValue(),
                columns=[src_col, tgt_col],
            )
        )

    def record_alias(self, uid, of, *, name, level, columns, rid_col, df: DataFrame) -> None:
        """Record ``uid`` as a passthrough of the finalized table ``of``
        (``EXPORT x`` / ``WITH y AS x``): the same rows under the same
        rids in ``rid_col``, with an identity mapping.  It shares
        ``of``'s file; only when ``of`` has no snapshot but ``level``
        asks for one is ``df`` (``of``'s materialized frame) written."""
        if self._snapshot_file(of) is not None or not self._snapshots(level):
            # share of's snapshot, or its pin file if it has one
            if of in self._files:
                self._files[uid] = self._files[of]
        else:
            # of ran mapping-only but this level asks for a snapshot
            self.materialize(uid, df, level)
        self.record_table(uid, name=name, level=level, columns=columns, rid_col=rid_col)
        self.record_column_mapping(of, uid, src_col=rid_col, tgt_col=rid_col, df=df)

    def write_manifest(self) -> None:
        manifest = {
            "version": 1,
            "tables": [vars(t) for t in self.tables],
            "mappings": [vars(m) for m in self.mappings],
        }
        if self.mapping_sample is not None:
            manifest["mapping_sample"] = self.mapping_sample
        with open(os.path.join(self.root, "trace.json"), "w") as f:
            json.dump(manifest, f, indent=2)


class InMemoryTracer:
    """Test-scale tracer: snapshots pinned via ``localCheckpoint`` (the
    in-memory analogue of the parquet round-trip — materializes
    partitions so row ids are stable across actions).  Mirrors
    :class:`FileSystemTracer`'s layout: a by-construction mapping is a
    projection of its target's pinned snapshot and a passthrough reuses
    its binding's pinned frame; only ``by_key`` pairs are pinned."""

    def __init__(self):
        self.snapshots: dict[str, DataFrame] = {}
        self.pairs: dict[str, DataFrame] = {}
        self.tables: list[TableRecord] = []
        self.mappings: list[MappingRecord] = []

    def materialize(self, uid: str, df: DataFrame, level: str = "STATEMENT") -> DataFrame:
        pinned = df.localCheckpoint(eager=True)
        self.snapshots[uid] = pinned
        return pinned

    def record_table(self, uid, *, name, level, columns, rid_col) -> None:
        self.tables.append(
            TableRecord(
                id=uid,
                name=name,
                level=level,
                columns=[{"name": c, "dtype": d.name} for c, d in columns],
                row_id=rid_col,
                path=None,
            )
        )

    def _add_pairs(self, src, tgt, kind, pairs: DataFrame) -> None:
        mid = f"m{len(self.mappings):03d}"
        self.pairs[mid] = pairs
        self.mappings.append(
            MappingRecord(id=mid, src=src, tgt=tgt, kind=kind, path=None)
        )

    def record_mapping(self, src, tgt, *, kind, pairs: DataFrame) -> None:
        self._add_pairs(src, tgt, kind, pairs.localCheckpoint(eager=True))

    def record_column_mapping(self, src, tgt, *, src_col, tgt_col, df: DataFrame) -> None:
        # df is tgt's pinned frame: its projection needs no pin of its own
        self._add_pairs(src, tgt, "by_construction", _column_pairs(df, src_col, tgt_col))

    def record_alias(self, uid, of, *, name, level, columns, rid_col, df: DataFrame) -> None:
        self.snapshots[uid] = self.snapshots[of]
        self.record_table(uid, name=name, level=level, columns=columns, rid_col=rid_col)
        self.record_column_mapping(of, uid, src_col=rid_col, tgt_col=rid_col, df=df)

    def write_manifest(self) -> None:
        pass


def run_traced(source, *, spark, importer, exporter, tracer, ordered=False):
    """Execute a script with provenance recording (the traced variant of
    runtime.run; reference dtl.run with tracer, eval.py:447-543)."""
    from python_dtl_spark.compiler import Engine

    from python_dtl_spark.runtime import _check_self_overwrite

    engine = Engine(spark, importer, ordered=ordered, tracer=tracer)
    # same contract as the untraced runtime.run: the post-export
    # invalidation protects the NEXT run with a reused importer, and a
    # within-script import-of-an-exported-location is rejected up front
    # (compilation pins file listings before any write)
    _check_self_overwrite(source, importer, exporter)
    invalidate = getattr(importer, "invalidate", None)
    for location, table in engine.run_script(source):
        exporter.export_table(location, table.public_df())
        if invalidate is not None:
            invalidate(location)
    tracer.write_manifest()


@dataclass
class _PipelineDType:
    """Shim giving Spark dtype strings the ``.name`` attribute
    ``record_table`` reads off the DTL type objects."""

    name: str


def record_pipeline_step(
    tracer,
    *,
    src_name: str,
    tgt_name: str,
    src_df: DataFrame,
    tgt_df: DataFrame,
    mapping: DataFrame,
    src_key: str,
    tgt_key: str,
    mapping_src: str | None = None,
    mapping_tgt: str | None = None,
    kind: str = "by_key",
    level: str = "PIPELINE",
) -> tuple[str, str]:
    """Bridge an OPERATOR-lineage mapping into the trace subsystem: the
    ManyToOne tables the pipeline flagships emit
    (:func:`~python_dtl_spark.operators.text.dedup_paragraphs` /
    :func:`~python_dtl_spark.operators.dedup.exact_dedup_canonical`
    with ``with_lineage=True``, or any ``(src_key → tgt_key)``
    relation) become first-class trace mappings, so
    :class:`TraceReader`'s ``why()`` / ``where_used()`` /  transitive
    ``lineage()`` walk pipeline steps exactly as they walk DTL
    statements — and compose ACROSS the two worlds when a DTL export
    feeds a pipeline operator.

    Both frames snapshot through the tracer's normal path, so the
    ``snapshot_levels`` 100 TB valve applies: keep ``"PIPELINE"`` out
    of ``snapshot_levels`` and only the narrow rid mapping is written
    — no table-sized copy, and no pin either (the frames' NATURAL keys
    serve as row ids, which are deterministic under re-computation, so
    unlike DTL-statement rids they need no materialize; the snapshot
    call is skipped entirely for an excluded level).  No synthetic rid
    generation pass runs — the mapping is already at key grain.

    ``src_key`` / ``tgt_key`` are the frames' natural-key (rid)
    columns; ``mapping_src`` / ``mapping_tgt`` name the mapping
    table's corresponding columns and default to ``src_<src_key>`` /
    ``kept_<tgt_key>`` — exactly what ``with_lineage=True`` emits.

    Returns the two table uids (``p{NNN}_{name}``, disjoint from the
    DTL statements' ``t{NNN}_{name}`` space).
    """
    mapping_src = mapping_src or f"src_{src_key}"
    mapping_tgt = mapping_tgt or f"kept_{tgt_key}"
    for col in (mapping_src, mapping_tgt):
        if col not in mapping.columns:
            raise ValueError(
                f"mapping column {col!r} not found (columns: "
                f"{mapping.columns}); pass mapping_src/mapping_tgt"
            )
    uids = []
    for name, df, key in ((src_name, src_df, src_key), (tgt_name, tgt_df, tgt_key)):
        if key not in df.columns:
            raise ValueError(
                f"key column {key!r} not in frame for table {name!r} "
                f"(columns: {df.columns})"
            )
        uid = f"p{len(tracer.tables):03d}_{name}"
        # Snapshot only when the level is opted in.  DTL statements
        # must ALWAYS pin (their rids are monotonically_increasing_id,
        # unreplayable without a pin), but pipeline frames use NATURAL
        # keys as rids — deterministic, so an excluded level needs no
        # pin at all.  Calling materialize unconditionally here would
        # write a table-sized pins/ copy (pin="parquet") or eagerly
        # localCheckpoint both frames (pin="local") for nothing
        # (advisor r11).
        levels = getattr(tracer, "snapshot_levels", None)
        if levels is None or level in levels:
            tracer.materialize(uid, df, level=level)
        tracer.record_table(
            uid,
            name=name,
            level=level,
            columns=[
                (c, _PipelineDType(t)) for c, t in df.dtypes if c != key
            ],
            rid_col=key,
        )
        uids.append(uid)
    pairs = mapping.select(
        F.col(mapping_src).alias("src_rid"),
        F.col(mapping_tgt).alias("tgt_rid"),
    )
    tracer.record_mapping(uids[0], uids[1], kind=kind, pairs=pairs)
    return uids[0], uids[1]


# -- mapping algebra ----------------------------------------------------------


def compose(ab: DataFrame, bc: DataFrame) -> DataFrame:
    """Compose two rid mappings: (a→b) ∘ (b→c) = (a→c).

    The reference compiles exactly this as a relational join on index
    arrays (mappings.py:310-322); here Catalyst picks the physical join.
    """
    return (
        ab.alias("f")
        .join(bc.alias("s"), F.col("f.tgt_rid") == F.col("s.src_rid"))
        .select(
            F.col("f.src_rid").alias("src_rid"), F.col("s.tgt_rid").alias("tgt_rid")
        )
        .dropDuplicates(["src_rid", "tgt_rid"])
    )


class TraceReader:
    """Query a written trace: snapshots, direct mappings, and transitive
    lineage between any two trace tables (the explainability UX the
    reference's manifest enables, manifest.py:62-134).

    :meth:`lineage` is the full ``(src_rid, tgt_rid)`` relation between
    two tables.  :meth:`why` and :meth:`where_used` answer questions
    about given rows without building it: they push those rows hop by
    hop along the same paths, so their cost follows the asked rows'
    lineage."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        with open(os.path.join(root, "trace.json")) as f:
            self.manifest = json.load(f)
        self._by_id = {t["id"]: t for t in self.manifest["tables"]}
        self._by_name: dict[str, dict] = {}
        for t in self.manifest["tables"]:
            self._by_name[t["name"]] = t  # last statement with the name wins

    def tables(self, level: str | None = None) -> list[dict]:
        """List trace-table records, optionally filtered by level (the
        reference's ``filter_tables(level=...)`` is an unimplemented
        TODO, eval.py:289-297 — real here)."""
        return [
            t
            for t in self.manifest["tables"]
            if level is None or t["level"] == level
        ]

    def table_id(self, name_or_id: str) -> str:
        if name_or_id in self._by_id:
            return name_or_id
        if name_or_id in self._by_name:
            return self._by_name[name_or_id]["id"]
        raise KeyError(f"no trace table {name_or_id!r}")

    def _read(self, rec: dict) -> DataFrame:
        """Read a record's file with its recorded schema (no inference
        job); traces written before schemas were recorded infer it."""
        reader = self.spark.read
        if rec.get("schema") is not None:
            reader = reader.schema(StructType.fromJson(rec["schema"]))
        return reader.parquet(os.path.join(self.root, rec["path"]))

    def _pairs(self, m: dict) -> DataFrame:
        """A mapping record's ``(src_rid, tgt_rid)`` pairs: a pairs file,
        or two rid columns projected out of a snapshot or pin file."""
        df = self._read(m)
        if m.get("columns") is None:
            return df
        return _column_pairs(df, *m["columns"])

    def snapshot(self, name_or_id: str) -> DataFrame:
        """The traced table's data columns plus its ``row_id`` column."""
        rec = self._by_id[self.table_id(name_or_id)]
        if rec["path"] is None:
            raise ValueError(
                f"trace table {rec['name']!r} ran mapping-only (level "
                f"{rec['level']} excluded from snapshot_levels); its rid "
                "mappings exist but no data snapshot was written"
            )
        df = self._read(rec)
        cols = [c["name"] for c in rec["columns"]] + [rec["row_id"]]
        return df.select(*cols).withColumnRenamed(rec["row_id"], "__rid")

    def mapping(self, src: str, tgt: str) -> DataFrame | None:
        """Direct (one-hop) mapping between two trace tables, if any."""
        src, tgt = self.table_id(src), self.table_id(tgt)
        out = None
        for m in self.manifest["mappings"]:
            if m["src"] == src and m["tgt"] == tgt:
                pairs = self._pairs(m)
                out = pairs if out is None else out.unionByName(pairs)
        return out

    def _path(self, src: str, tgt: str) -> tuple[list[str], list[dict]]:
        """The tables on some ``src → tgt`` mapping path — those
        reachable from ``src`` that can also reach ``tgt`` — in
        topological order, and the mapping records between them, sorted
        by their source's place in that order.  ``([], [])`` when there
        is no path; ``([src], [])`` when ``src == tgt``.

        Walking the records in this order (or its reverse) reaches a
        table only after every path into it (or out of it) has been
        merged.  A plain BFS expands a table the first time it is
        reached; in diamond-shaped graphs with unequal path lengths the
        late-arriving path would never reach the table's descendants.
        The trace graph is a DAG by construction (mapping targets are
        always created after their sources), so the order always exists.
        """
        edges: dict[str, dict[str, list[dict]]] = {"src": {}, "tgt": {}}
        for m in self.manifest["mappings"]:
            edges["src"].setdefault(m["src"], []).append(m)
            edges["tgt"].setdefault(m["tgt"], []).append(m)

        def reach(start: str, side: str, other: str) -> set[str]:
            seen, stack = {start}, [start]
            while stack:
                for m in edges[side].get(stack.pop(), []):
                    if m[other] not in seen:
                        seen.add(m[other])
                        stack.append(m[other])
            return seen

        on_path = reach(src, "src", "tgt") & reach(tgt, "tgt", "src")
        if not on_path:
            return [], []
        # Kahn's algorithm over the path subgraph (multi-edges count
        # once per edge)
        out = {
            n: [m for m in edges["src"].get(n, []) if m["tgt"] in on_path]
            for n in on_path
        }
        indeg = dict.fromkeys(on_path, 0)
        for ms in out.values():
            for m in ms:
                indeg[m["tgt"]] += 1
        ready, order, records = [src], [], []
        while ready:
            node = ready.pop()
            order.append(node)
            records += out[node]
            for m in out[node]:
                indeg[m["tgt"]] -= 1
                if indeg[m["tgt"]] == 0:
                    ready.append(m["tgt"])
        return order, records

    def lineage(self, src: str, tgt: str) -> DataFrame | None:
        """The full transitive ``(src_rid, tgt_rid)`` relation from
        ``src`` to ``tgt``, composed along every mapping path of
        :meth:`_path`; None when there is no path.  Its cost grows with
        the mappings on the path, not with any question: :meth:`why` and
        :meth:`where_used` do not build it."""
        src, tgt = self.table_id(src), self.table_id(tgt)
        if src == tgt:
            snap = self.snapshot(src)
            return snap.select(
                F.col("__rid").alias("src_rid"), F.col("__rid").alias("tgt_rid")
            )
        # reach[t] = composed (src_rid → t rid) mapping, complete by the
        # time t's out-edges are walked
        reach: dict[str, DataFrame] = {}
        for m in self._path(src, tgt)[1]:
            pairs = self._pairs(m)
            step = pairs if m["src"] == src else compose(reach[m["src"]], pairs)
            if m["tgt"] in reach:
                reach[m["tgt"]] = (
                    reach[m["tgt"]]
                    .unionByName(step)
                    .dropDuplicates(["src_rid", "tgt_rid"])
                )
            else:
                reach[m["tgt"]] = step
        return reach.get(tgt)

    def _push(
        self, src_table: str, tgt_table: str, rows: DataFrame, backward: bool
    ) -> DataFrame:
        """Push ``rows``' ``__rid``s through every ``src → tgt`` path one
        hop at a time — backwards from ``tgt`` rows when ``backward``,
        else forwards from ``src`` rows — and return the far end's
        snapshot rows (``__rid`` first) that the walk reaches.

        A table's frontier is the union, over its path edges, of the
        edge's pairs ``LEFT SEMI JOIN`` the frontier at the edge's near
        end, projected to the rid at the far end.  A semi-join never
        duplicates a row, so no step needs a ``dropDuplicates``; the
        frontiers may repeat a rid, and the last semi-join absorbs it."""
        src, tgt = self.table_id(src_table), self.table_id(tgt_table)
        tables, records = self._path(src, tgt)
        if not tables:
            raise KeyError(f"no lineage path {src_table!r} → {tgt_table!r}")
        near, far = ("tgt", "src") if backward else ("src", "tgt")
        start, end = (tgt, src) if backward else (src, tgt)
        frontier = {start: rows.select("__rid")}
        for m in reversed(records) if backward else records:
            step = (
                self._pairs(m)
                .join(
                    frontier[m[near]],
                    F.col(f"{near}_rid") == F.col("__rid"),
                    "left_semi",
                )
                .select(F.col(f"{far}_rid").alias("__rid"))
            )
            reached = frontier.get(m[far])
            frontier[m[far]] = step if reached is None else reached.unionByName(step)
        # a USING semi-join puts the key (__rid) first, then the data columns
        return self.snapshot(end).join(frontier[end], on="__rid", how="left_semi")

    def why(self, tgt_table: str, src_table: str, tgt_rows: DataFrame) -> DataFrame:
        """Explain: given rows of ``tgt_table`` (must carry ``__rid``),
        return the contributing rows of ``src_table`` (``__rid`` first,
        then the data columns).

        The asked rows are pushed backwards through the trace hop by
        hop, so a question costs in proportion to those rows' lineage,
        not to the whole ``src → tgt`` relation (that is
        :meth:`lineage`).  ``why(t, t, rows)`` returns ``rows``'
        snapshot rows."""
        return self._push(src_table, tgt_table, tgt_rows, backward=True)

    def where_used(
        self, src_table: str, tgt_table: str, src_rows: DataFrame
    ) -> DataFrame:
        """Forward provenance, symmetric to :meth:`why`: given rows of
        ``src_table`` (must carry ``__rid``), return the rows of
        ``tgt_table`` they contributed to — "if I delete/fix these
        inputs, which outputs change?".  The asked rows are pushed
        forwards hop by hop, at a cost in proportion to their lineage."""
        return self._push(src_table, tgt_table, src_rows, backward=False)
