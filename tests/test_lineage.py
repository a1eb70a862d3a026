"""Provenance / trace mode tests.

The reference records a snapshot of every statement table plus row-level
mappings between them (mappings.py, manifest.py, io.py:75-122).  These
tests assert the same observable behavior on the Spark engine: snapshot
contents, mapping cardinalities per operator class, manifest structure,
and transitive lineage ("which import rows produced this output row").
"""

from __future__ import annotations

import functools
import json
import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_dtl_spark.lineage import (
    FileSystemTracer,
    InMemoryTracer,
    TraceReader,
    compose,
    run_traced,
)
from python_dtl_spark.sources import InMemoryExporter, InMemoryImporter


def _run(spark, source, inputs, tracer):
    importer = InMemoryImporter(
        {name: spark.createDataFrame(rows, schema) for name, (rows, schema) in inputs.items()}
    )
    exporter = InMemoryExporter()
    run_traced(
        source, spark=spark, importer=importer, exporter=exporter, tracer=tracer
    )
    return exporter.tables


def _snap(tracer, name):
    """Last snapshot with the given statement name (data + rid)."""
    recs = [t for t in tracer.tables if t.name == name]
    assert recs, f"no trace table {name}"
    return tracer.snapshots[recs[-1].id], recs[-1]


def _pairs(tracer, src_id, tgt_id):
    out = None
    for m in tracer.mappings:
        if m.src == src_id and m.tgt == tgt_id:
            p = tracer.pairs[m.id]
            out = p if out is None else out.unionByName(p)
    assert out is not None, f"no mapping {src_id} → {tgt_id}"
    return out


NUMS = (
    [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50), (6, 60)],
    "key long, value long",
)


def test_filter_mapping_by_construction(spark):
    tracer = InMemoryTracer()
    out = _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH big AS SELECT key, value FROM a WHERE value > 30;
        EXPORT big TO 'big_out';
        """,
        {"a": NUMS},
        tracer,
    )
    assert sorted(r.key for r in out["big_out"].collect()) == [4, 5, 6]

    a_df, a_rec = _snap(tracer, "a")
    big_df, big_rec = _snap(tracer, "big")
    pairs = _pairs(tracer, a_rec.id, big_rec.id)
    assert pairs.count() == 3  # one pair per surviving row
    # the mapped source rows are exactly the ones passing the predicate
    src_vals = (
        pairs.join(a_df, pairs.src_rid == a_df[a_rec.row_id])
        .select("value")
        .collect()
    )
    assert sorted(r.value for r in src_vals) == [40, 50, 60]


def test_join_mapping_both_sides(spark):
    tracer = InMemoryTracer()
    _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH b AS IMPORT 'b';
        WITH j AS SELECT key, a.value AS av, b.value AS bv
                  FROM a JOIN b ON a.key = b.key;
        EXPORT j TO 'j_out';
        """,
        {
            "a": NUMS,
            "b": ([(2, 200), (3, 300), (9, 900)], "key long, value long"),
        },
        tracer,
    )
    _, a_rec = _snap(tracer, "a")
    _, b_rec = _snap(tracer, "b")
    j_df, j_rec = _snap(tracer, "j")
    n = j_df.count()
    assert n == 2  # keys 2 and 3 match
    # every output row maps to exactly one row on each side
    assert _pairs(tracer, a_rec.id, j_rec.id).count() == n
    assert _pairs(tracer, b_rec.id, j_rec.id).count() == n


def test_aggregate_mapping_many_to_one(spark):
    tracer = InMemoryTracer()
    out = _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH g AS SELECT parity, sum(value) AS total
                  FROM a GROUP BY parity;
        EXPORT g TO 'g_out';
        """,
        {
            "a": (
                [(1, 10, 1), (2, 20, 0), (3, 30, 1), (4, 40, 0)],
                "key long, value long, parity long",
            )
        },
        tracer,
    )
    assert {(r.parity, r.total) for r in out["g_out"].collect()} == {(1, 40), (0, 60)}
    _, a_rec = _snap(tracer, "a")
    g_df, g_rec = _snap(tracer, "g")
    pairs = _pairs(tracer, a_rec.id, g_rec.id)
    # every input row contributes to exactly one group
    assert pairs.count() == 4
    assert pairs.select("src_rid").distinct().count() == 4
    assert pairs.select("tgt_rid").distinct().count() == 2


def test_distinct_mapping_all_duplicates(spark):
    tracer = InMemoryTracer()
    out = _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH d AS SELECT DISTINCT tag FROM a;
        EXPORT d TO 'd_out';
        """,
        {"a": ([(1, "x"), (2, "x"), (3, "y"), (4, "x")], "key long, tag string")},
        tracer,
    )
    assert sorted(r.tag for r in out["d_out"].collect()) == ["x", "y"]
    _, a_rec = _snap(tracer, "a")
    _, d_rec = _snap(tracer, "d")
    pairs = _pairs(tracer, a_rec.id, d_rec.id)
    # ALL duplicate source rows map to the kept output row
    assert pairs.count() == 4
    assert pairs.select("tgt_rid").distinct().count() == 2


def test_setop_mapping(spark):
    tracer = InMemoryTracer()
    out = _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH b AS IMPORT 'b';
        WITH u AS SELECT key FROM a UNION SELECT key FROM b;
        EXPORT u TO 'u_out';
        """,
        {
            "a": ([(1,), (2,)], "key long"),
            "b": ([(2,), (3,)], "key long"),
        },
        tracer,
    )
    assert sorted(r.key for r in out["u_out"].collect()) == [1, 2, 3]
    _, u_rec = _snap(tracer, "u")
    # both setop operands were finalized as TABLE_EXPRESSION trace tables
    operands = [t for t in tracer.tables if t.level == "TABLE_EXPRESSION"]
    assert len(operands) == 2
    total = 0
    for op_rec in operands:
        total += _pairs(tracer, op_rec.id, u_rec.id).count()
    # key=2 exists in both operands: 4 source rows map into 3 output rows
    assert total == 4


def test_filesystem_trace_and_reader(spark, tmp_path):
    trace_dir = os.path.join(str(tmp_path), "trace")
    tracer = FileSystemTracer(trace_dir)
    _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH big AS SELECT key, value FROM a WHERE value > 30;
        WITH doubled AS SELECT key, value * 2 AS v2 FROM big;
        EXPORT doubled TO 'out';
        """,
        {"a": NUMS},
        tracer,
    )
    manifest = json.load(open(os.path.join(trace_dir, "trace.json")))
    assert manifest["version"] == 1
    names = [t["name"] for t in manifest["tables"]]
    assert names == ["a", "big", "doubled", "out"]
    levels = {t["name"]: t["level"] for t in manifest["tables"]}
    assert levels["a"] == "STATEMENT" and levels["out"] == "EXPORT"
    assert all(m["kind"] == "by_construction" for m in manifest["mappings"])

    reader = TraceReader(spark, trace_dir)
    # transitive lineage: export rows ← import rows
    pairs = reader.lineage("a", "out")
    assert pairs.count() == 3
    # why: pick the exported row with v2=120 (value 60); it must trace
    # back to exactly the import row (6, 60)
    out_snap = reader.snapshot("out")
    row = out_snap.filter(F.col("v2") == 120)
    origin = reader.why("out", "a", row).collect()
    assert len(origin) == 1
    assert (origin[0].key, origin[0].value) == (6, 60)


DIAMOND_SCRIPT = """
    WITH a AS IMPORT 'a';
    WITH short AS SELECT key, value FROM a WHERE value > 30;
    WITH l1 AS SELECT key, value FROM a WHERE value > 0;
    WITH longer AS SELECT key, value FROM l1 WHERE value < 35;
    WITH merged AS short UNION longer;
    WITH final AS SELECT key FROM merged;
    EXPORT final TO 'out';
    """


def test_lineage_diamond_unequal_path_lengths(spark, tmp_path):
    # Diamond: a → short (1 hop) and a → l1 → longer (2 hops) merge in
    # `merged`, whose descendant is `final`.  A naive BFS expands
    # `merged` when the short path arrives and never replays the longer
    # path's pairs to `final`, dropping lineage for rows that only
    # survive the longer branch (keys 1-3 here: value <= 30 fails the
    # short filter but passes the longer one).
    trace_dir = os.path.join(str(tmp_path), "trace")
    tracer = FileSystemTracer(trace_dir)
    _run(spark, DIAMOND_SCRIPT, {"a": NUMS}, tracer)
    reader = TraceReader(spark, trace_dir)
    pairs = reader.lineage("a", "final")
    a_snap = reader.snapshot("a")
    traced_keys = {
        r.key
        for r in a_snap.join(
            pairs.select(F.col("src_rid").alias("__rid")).dropDuplicates(),
            on="__rid",
        ).collect()
    }
    # every import row flows to final: 4-6 via short, 1-3 via longer
    assert traced_keys == {1, 2, 3, 4, 5, 6}


def test_compose_is_reference_recipe(spark):
    ab = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 30)], "src_rid long, tgt_rid long"
    )
    bc = spark.createDataFrame(
        [(10, 100), (30, 300), (30, 301)], "src_rid long, tgt_rid long"
    )
    got = {(r.src_rid, r.tgt_rid) for r in compose(ab, bc).collect()}
    assert got == {(1, 100), (2, 100), (3, 300), (3, 301)}


def test_untraced_run_unaffected(spark):
    # the rid machinery must stay fully dormant without a tracer
    from python_dtl_spark import run_simple

    inputs = {"a": spark.createDataFrame(*NUMS)}
    out = run_simple(
        "WITH a AS IMPORT 'a'; WITH o AS SELECT key FROM a WHERE value > 30; EXPORT o TO 'o';",
        spark=spark,
        inputs=inputs,
        ordered=False,
    )
    assert out["o"].columns == ["key"]
    assert sorted(r.key for r in out["o"].collect()) == [4, 5, 6]


def test_ordered_mode_with_trace(spark):
    """Ordered (positional) mode and trace mode compose: output order is
    the reference's, and lineage still resolves."""
    tracer = InMemoryTracer()
    importer = InMemoryImporter(
        {"a": spark.createDataFrame([(3, 30), (1, 10), (2, 20)], "key long, value long")}
    )
    exporter = InMemoryExporter()
    run_traced(
        """
        WITH a AS IMPORT 'a';
        WITH keep AS SELECT key, value FROM a WHERE value >= 20;
        EXPORT keep TO 'keep_out';
        """,
        spark=spark,
        importer=importer,
        exporter=exporter,
        tracer=tracer,
        ordered=True,
    )
    # import order preserved through the filter: (3,30) then (2,20)
    got = [(r.key, r.value) for r in exporter.tables["keep_out"].collect()]
    assert got == [(3, 30), (2, 20)]
    _, a_rec = _snap(tracer, "a")
    _, k_rec = _snap(tracer, "keep")
    assert _pairs(tracer, a_rec.id, k_rec.id).count() == 2


def test_mapping_only_mode_skips_statement_snapshots(spark, tmp_path):
    import pytest

    trace_dir = os.path.join(str(tmp_path), "trace_mo")
    tracer = FileSystemTracer(trace_dir, snapshot_levels=["EXPORT"])
    _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH big AS SELECT key, value FROM a WHERE value > 30;
        EXPORT big TO 'out';
        """,
        {"a": NUMS},
        tracer,
    )
    manifest = json.load(open(os.path.join(trace_dir, "trace.json")))
    paths = {t["name"]: t["path"] for t in manifest["tables"]}
    assert paths["out"] is not None  # EXPORT level still snapshotted
    assert paths["a"] is None and paths["big"] is None  # mapping-only
    # only the export snapshot hit disk
    import glob

    assert len(glob.glob(os.path.join(trace_dir, "tables", "*"))) == 1

    reader = TraceReader(spark, trace_dir)
    # rid mappings remain exact end-to-end
    assert reader.lineage("a", "out").count() == 3
    assert reader.snapshot("out").count() == 3
    with pytest.raises(ValueError, match="mapping-only"):
        reader.snapshot("big")
    # a question that ends at a mapping-only table has no rows to return
    out = reader.snapshot("out")
    assert reader.where_used("out", "out", out).count() == 3
    with pytest.raises(ValueError, match="mapping-only"):
        reader.why("out", "a", out)


def test_mapping_sample_mode_deterministic_subset(spark, tmp_path):
    """mapping_sample=m keeps exactly the pairs whose
    xxhash64(src_rid) % m == 0 — a deterministic, replayable subset
    (same rows on a re-run), recorded in the manifest, with every kept
    source row's lineage complete."""
    import pyspark.sql.functions as SF

    exact_dir = os.path.join(str(tmp_path), "trace_exact")
    script = """
        WITH a AS IMPORT 'a';
        WITH big AS SELECT key, value FROM a WHERE value > 0;
        EXPORT big TO 'out';
        """
    data = {"a": ([(i, i + 1) for i in range(200)], "key long, value long")}
    _run(spark, script, data, FileSystemTracer(exact_dir))

    sampled_dirs = []
    for tag in ("s1", "s2"):
        d = os.path.join(str(tmp_path), f"trace_{tag}")
        _run(
            spark,
            script,
            data,
            FileSystemTracer(d, mapping_sample=4),
        )
        sampled_dirs.append(d)

    manifest = json.load(open(os.path.join(sampled_dirs[0], "trace.json")))
    assert manifest["mapping_sample"] == 4

    def pairs(root):
        df = TraceReader(spark, root).mapping("a", "big")
        return {(r.src_rid, r.tgt_rid) for r in df.collect()}

    exact = pairs(exact_dir)
    s1, s2 = pairs(sampled_dirs[0]), pairs(sampled_dirs[1])
    # replayable: two independent traced runs keep the same subset
    assert s1 == s2
    # a real subset (~1/4), never empty at this size
    assert 0 < len(s1) < len(exact)
    assert s1 <= exact
    # the rule is exactly the documented hash predicate
    edf = spark.createDataFrame(
        sorted(exact), "src_rid long, tgt_rid long"
    ).filter(SF.pmod(SF.xxhash64("src_rid"), SF.lit(4)) == 0)
    assert s1 == {(r.src_rid, r.tgt_rid) for r in edf.collect()}


def test_where_used_forward_provenance(spark, tmp_path):
    trace_dir = os.path.join(str(tmp_path), "trace")
    tracer = FileSystemTracer(trace_dir)
    _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH big AS SELECT key, value FROM a WHERE value > 30;
        WITH doubled AS SELECT key, value * 2 AS v2 FROM big;
        EXPORT doubled TO 'out';
        """,
        {"a": NUMS},
        tracer,
    )
    reader = TraceReader(spark, trace_dir)
    a_snap = reader.snapshot("a")
    # forward from import row (6, 60): must reach exactly v2=120 in out
    src = a_snap.filter(F.col("key") == 6)
    hits = reader.where_used("a", "out", src).collect()
    assert len(hits) == 1 and hits[0].v2 == 120
    # a filtered-out row (1, 10) contributes to nothing
    dropped = a_snap.filter(F.col("key") == 1)
    assert reader.where_used("a", "out", dropped).count() == 0


def test_mutation_statements_trace(spark):
    # UPDATE/DELETE are row-preserving (by-construction mappings from the
    # prior binding); INSERT maps surviving rows from BOTH the prior
    # binding and the inserted expression.
    tracer = InMemoryTracer()
    out = _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        UPDATE a SET value = value + 1 WHERE key <= 2;
        DELETE FROM a WHERE value > 50;
        INSERT INTO a SELECT key + 100 AS key, value FROM a WHERE key = 3;
        EXPORT a TO 'a_out';
        """,
        {"a": NUMS},
        tracer,
    )
    rows = {r.key: r.value for r in out["a_out"].collect()}
    # update: 10→11, 20→21; delete removes (6,60); insert adds (103,30)
    assert rows == {1: 11, 2: 21, 3: 30, 4: 40, 5: 50, 103: 30}

    # four trace snapshots named "a": import, update, delete, insert
    recs = [t for t in tracer.tables if t.name == "a"]
    assert len(recs) == 4
    imp, upd, dele, ins = recs
    # update preserves cardinality 1:1
    assert _pairs(tracer, imp.id, upd.id).count() == 6
    # delete keeps 5 of 6
    assert _pairs(tracer, upd.id, dele.id).count() == 5
    # insert maps 5 prior rows + 1 inserted-expression row
    assert _pairs(tracer, dele.id, ins.id).count() == 5
    setop_recs = [t for t in tracer.tables if t.name == "(insert)"]
    assert len(setop_recs) == 1
    assert _pairs(tracer, setop_recs[0].id, ins.id).count() == 1


def test_union_all_lineage_is_exact_no_cross_attribution(spark):
    """UNION ALL preserves row identity: an identical row present in
    both operands must trace each output copy to exactly ITS source,
    not both (the content-hash bridge cross-attributed them)."""
    tracer = InMemoryTracer()
    _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH b AS IMPORT 'b';
        WITH u AS SELECT k, v FROM a UNION ALL SELECT k, v FROM b;
        EXPORT u TO 'out';
        """,
        {
            "a": ([(1, 10)], "k long, v long"),
            "b": ([(1, 10)], "k long, v long"),  # identical row
        },
        tracer,
    )
    u_rec = [t for t in tracer.tables if t.name == "u"][-1]
    operands = [t for t in tracer.tables if t.level == "TABLE_EXPRESSION"]
    assert len(operands) == 2
    total = 0
    for op_rec in operands:
        p = _pairs(tracer, op_rec.id, u_rec.id)
        # each operand's single row maps to exactly ONE output copy —
        # the content-hash bridge mapped it to BOTH copies (count 2)
        assert p.count() == 1
        total += p.count()
    assert total == 2


def test_traced_group_by_negative_zero_key_not_lost(spark):
    """groupBy normalizes -0.0 into 0.0; the trace bridge must hash the
    normalized value or the -0.0 input rows vanish from the by_key
    mapping."""
    tracer = InMemoryTracer()
    _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH g AS SELECT k, count() AS n FROM a GROUP BY k;
        EXPORT g TO 'out';
        """,
        {"a": ([(0.0, 1), (-0.0, 2)], "k double, i long")},
        tracer,
    )
    a_rec = [t for t in tracer.tables if t.name == "a"][-1]
    g_rec = [t for t in tracer.tables if t.name == "g"][-1]
    pairs = _pairs(tracer, a_rec.id, g_rec.id)
    # both input rows (0.0 and -0.0) map to the single merged group
    assert pairs.count() == 2


def test_filesystem_tracer_parquet_pin_mode(spark, tmp_path):
    """pin='parquet' writes mapping-only tables under pins/ (survives
    executor loss) and lineage stays exact."""
    import glob

    trace_dir = os.path.join(str(tmp_path), "trace_pin")
    tracer = FileSystemTracer(
        trace_dir, snapshot_levels=["EXPORT"], pin="parquet"
    )
    _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH big AS SELECT key, value FROM a WHERE value > 30;
        EXPORT big TO 'out';
        """,
        {"a": NUMS},
        tracer,
    )
    assert glob.glob(os.path.join(trace_dir, "pins", "*"))
    reader = TraceReader(spark, trace_dir)
    assert reader.lineage("a", "out").count() == 3


def test_record_pipeline_step_bridges_operator_lineage(spark, tmp_path):
    """Operator-lineage mappings (with_lineage=True output) become
    first-class trace mappings: TraceReader.why()/where_used() walk a
    pipeline dedup step exactly as they walk DTL statements."""
    from python_dtl_spark.lineage import record_pipeline_step
    from python_dtl_spark.operators.dedup import exact_dedup_canonical

    trace_dir = os.path.join(str(tmp_path), "ptrace")
    tracer = FileSystemTracer(trace_dir)
    docs = spark.createDataFrame(
        [(0, "x"), (1, "x"), (2, "y"), (3, None)],
        "doc_id long, text string",
    )
    result, mapping = exact_dedup_canonical(
        docs, "doc_id", ["text"], with_lineage=True
    )
    src_uid, tgt_uid = record_pipeline_step(
        tracer,
        src_name="corpus",
        tgt_name="deduped",
        src_df=docs,
        tgt_df=result,
        mapping=mapping,
        src_key="doc_id",
        tgt_key="doc_id",
    )
    tracer.write_manifest()
    assert src_uid.startswith("p") and tgt_uid.startswith("p")

    reader = TraceReader(spark, trace_dir)
    # why: the kept doc 0 traces back to BOTH duplicate inputs 0 and 1
    kept0 = reader.snapshot("deduped").filter(F.col("__rid") == 0)
    origin = reader.why("deduped", "corpus", kept0)
    assert sorted(r["__rid"] for r in origin.collect()) == [0, 1]
    # where_used: deleting input doc 1 affects kept doc 0
    src1 = reader.snapshot("corpus").filter(F.col("__rid") == 1)
    hit = reader.where_used("corpus", "deduped", src1)
    assert [r["__rid"] for r in hit.collect()] == [0]
    # the mapping is the full ManyToOne relation, NULL group included
    pairs = reader.mapping("corpus", "deduped")
    got = {(r.src_rid, r.tgt_rid) for r in pairs.collect()}
    assert got == {(0, 0), (1, 0), (2, 2), (3, 3)}
    # snapshot-levels valve: mapping-only pipeline steps write no
    # table copy but the rid mapping still answers lineage()
    trace_dir2 = os.path.join(str(tmp_path), "ptrace2")
    tracer2 = FileSystemTracer(trace_dir2, snapshot_levels=["EXPORT"])
    record_pipeline_step(
        tracer2,
        src_name="corpus",
        tgt_name="deduped",
        src_df=docs,
        tgt_df=result,
        mapping=mapping,
        src_key="doc_id",
        tgt_key="doc_id",
    )
    tracer2.write_manifest()
    reader2 = TraceReader(spark, trace_dir2)
    assert reader2.lineage("corpus", "deduped").count() == 4
    with pytest.raises(ValueError, match="mapping-only"):
        reader2.snapshot("corpus")
    # loud errors on missing columns
    with pytest.raises(ValueError, match="mapping column"):
        record_pipeline_step(
            tracer,
            src_name="a",
            tgt_name="b",
            src_df=docs,
            tgt_df=result,
            mapping=mapping.select(F.col("src_doc_id").alias("z"), "kept_doc_id"),
            src_key="doc_id",
            tgt_key="doc_id",
        )


def test_record_pipeline_step_excluded_level_writes_no_pin(spark, tmp_path):
    """A pipeline step whose level is EXCLUDED from snapshot_levels
    skips materialize entirely (advisor r12): natural-key rids are
    deterministic, so no pin is needed — previously pin='parquet'
    wrote a table-sized pins/ copy and pin='local' eagerly
    localCheckpointed both frames for nothing."""
    import glob

    from python_dtl_spark.lineage import record_pipeline_step
    from python_dtl_spark.operators.dedup import exact_dedup_canonical

    docs = spark.createDataFrame(
        [(0, "x"), (1, "x"), (2, "y")], "doc_id long, text string"
    )
    result, mapping = exact_dedup_canonical(
        docs, "doc_id", ["text"], with_lineage=True
    )
    trace_dir = os.path.join(str(tmp_path), "nopin")
    tracer = FileSystemTracer(
        trace_dir, snapshot_levels=["EXPORT"], pin="parquet"
    )
    record_pipeline_step(
        tracer,
        src_name="corpus",
        tgt_name="deduped",
        src_df=docs,
        tgt_df=result,
        mapping=mapping,
        src_key="doc_id",
        tgt_key="doc_id",
    )
    tracer.write_manifest()
    # no pins, no table snapshots — only the narrow rid mapping
    assert not glob.glob(os.path.join(trace_dir, "pins", "*"))
    assert not glob.glob(os.path.join(trace_dir, "tables", "*"))
    assert glob.glob(os.path.join(trace_dir, "mappings", "*"))
    # the mapping still answers lineage()
    reader = TraceReader(spark, trace_dir)
    assert reader.lineage("corpus", "deduped").count() == 3
    # an INCLUDED pipeline level still snapshots through materialize
    trace_dir2 = os.path.join(str(tmp_path), "withpin")
    tracer2 = FileSystemTracer(trace_dir2, snapshot_levels=["PIPELINE"])
    record_pipeline_step(
        tracer2,
        src_name="corpus",
        tgt_name="deduped",
        src_df=docs,
        tgt_df=result,
        mapping=mapping,
        src_key="doc_id",
        tgt_key="doc_id",
    )
    tracer2.write_manifest()
    assert glob.glob(os.path.join(trace_dir2, "tables", "*"))
    reader2 = TraceReader(spark, trace_dir2)
    assert reader2.snapshot("corpus").count() == 3


def test_minhash_keep_one_lineage_answers_why_dropped(spark, tmp_path):
    """The near-dup flagship's provenance (r11 verdict ask #4): the
    keep-one reducers' with_lineage mapping bridges through
    record_pipeline_step so TraceReader.why() answers "why was this
    document dropped" — the dropped doc traces to its cluster's
    surviving minimum id."""
    from python_dtl_spark.lineage import record_pipeline_step
    from python_dtl_spark.operators import dedup

    # explicit edge list: component {1, 2, 5} plus singletons {3}, {4}
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 5)], "id_a long, id_b long")
    labeled, mapping = dedup.keep_one_from_pairs(
        ids, pairs, id_col="doc_id", with_lineage=True
    )
    got = {(r.src_doc_id, r.kept_doc_id) for r in mapping.collect()}
    assert got == {(1, 1), (2, 1), (5, 1), (3, 3), (4, 4)}
    # the mapping's kept side is exactly the keep=true survivors
    keepers = {r.doc_id for r in labeled.filter(F.col("keep")).collect()}
    assert {k for _, k in got} == keepers == {1, 3, 4}

    # bridge into the trace world and walk why()/where_used()
    trace_dir = os.path.join(str(tmp_path), "minhash_trace")
    tracer = FileSystemTracer(trace_dir, snapshot_levels=["PIPELINE"])
    kept_df = labeled.filter(F.col("keep")).select("doc_id")
    record_pipeline_step(
        tracer,
        src_name="corpus",
        tgt_name="near_dedup",
        src_df=ids,
        tgt_df=kept_df,
        mapping=mapping,
        src_key="doc_id",
        tgt_key="doc_id",
    )
    tracer.write_manifest()
    reader = TraceReader(spark, trace_dir)
    # why: survivor 1 traces back to the whole {1, 2, 5} component
    kept1 = reader.snapshot("near_dedup").filter(F.col("__rid") == 1)
    origin = reader.why("near_dedup", "corpus", kept1)
    assert sorted(r["__rid"] for r in origin.collect()) == [1, 2, 5]
    # where_used: dropped doc 5 maps forward to its survivor 1 —
    # "why was doc 5 dropped" = it survived as doc 1
    src5 = reader.snapshot("corpus").filter(F.col("__rid") == 5)
    hit = reader.where_used("corpus", "near_dedup", src5)
    assert [r["__rid"] for r in hit.collect()] == [1]

    # the LSH tier emits the same shape (tiny two-duplicate corpus)
    docs = spark.createDataFrame(
        [(10, "aa bb cc dd"), (11, "aa bb cc dd"), (12, "zz yy xx ww")],
        "doc_id long, text string",
    )
    _, m2 = dedup.lsh_dedup_keep(docs, with_lineage=True)
    got2 = {(r.src_doc_id, r.kept_doc_id) for r in m2.collect()}
    assert got2 == {(10, 10), (11, 10), (12, 12)}


def test_lineage_walks_three_worlds_stream_dtl_pipeline(spark, tmp_path):
    """r12 verdict stretch: ONE lineage() walk crosses all THREE
    worlds — a real Structured Streaming leg (readStream -> filter ->
    exactly-once stream_to_parquet sink), whose output a traced DTL
    script imports/filters/exports, whose export a pipeline dedup
    operator consumes — composed via two natural-key hop mappings
    (stream output doc_ids -> DTL import rids; DTL export rids ->
    pipeline doc_ids).  The walked (original doc_id -> kept doc_id)
    relation must equal the literally-computed composition of the two
    filters and the canonical dedup."""
    from python_dtl_spark.lineage import record_pipeline_step
    from python_dtl_spark.operators.dedup import exact_dedup_canonical
    from python_dtl_spark.sources import FileSystemImporter
    from python_dtl_spark.streaming import stream_to_parquet

    rows = [
        # (doc_id, text, n_chars): stream keeps n_chars >= 50,
        # DTL keeps n_chars >= 80; dup/dup2 are exact duplicates that
        # survive both filters, dup3 duplicates them but dies at the
        # DTL filter (its pair must NOT appear in the walked relation)
        (0, "alpha", 120),
        (1, "dup", 100),
        (2, "dup", 90),
        (3, "dup", 60),    # dup3: streams through, DTL drops it
        (4, "beta", 75),   # streams through, DTL drops it
        (5, "gamma", 30),  # stream drops it
        (6, "alpha", 85),  # duplicate of 0 surviving both
    ]
    in_dir = os.path.join(str(tmp_path), "in")
    spark.createDataFrame(
        rows, "doc_id long, text string, n_chars long"
    ).write.parquet(in_dir)

    # ---- world 1: streaming (real readStream + exactly-once sink)
    dtl_in = os.path.join(str(tmp_path), "dtl_in")
    out_dir = os.path.join(dtl_in, "streamed.parquet")
    src_batch = spark.read.parquet(in_dir)
    stream = (
        spark.readStream.schema(src_batch.schema).parquet(in_dir)
        .where(F.col("n_chars") >= 50)
    )
    q = stream_to_parquet(
        stream, out_dir, os.path.join(str(tmp_path), "ckpt")
    )
    q.awaitTermination()
    streamed = spark.read.parquet(out_dir)

    trace_dir = os.path.join(str(tmp_path), "trace3w")
    tracer = FileSystemTracer(trace_dir)
    ident = streamed.select(
        F.col("doc_id").alias("src_doc_id"),
        F.col("doc_id").alias("kept_doc_id"),
    )
    _, stream_tgt_uid = record_pipeline_step(
        tracer,
        src_name="stream_src",
        tgt_name="streamed",
        src_df=src_batch,
        tgt_df=streamed,
        mapping=ident,
        src_key="doc_id",
        tgt_key="doc_id",
        level="STREAMING",
    )

    # ---- world 2: traced DTL over the streaming sink's output
    exporter = InMemoryExporter()
    run_traced(
        """
        WITH docs AS IMPORT 'streamed';
        WITH kept AS SELECT doc_id, text FROM docs WHERE n_chars >= 80;
        EXPORT kept TO 'kept';
        """,
        spark=spark,
        importer=FileSystemImporter(spark, dtl_in),
        exporter=exporter,
        tracer=tracer,
    )
    import_rec = next(
        t
        for t in tracer.tables
        if t.level == "STATEMENT" and t.name == "docs"
    )
    import_snap = spark.read.parquet(f"{trace_dir}/{import_rec.path}")
    # hop: streaming world's natural doc_id rids -> DTL synthetic rids
    tracer.record_mapping(
        stream_tgt_uid,
        import_rec.id,
        kind="by_key",
        pairs=import_snap.select(
            F.col("doc_id").alias("src_rid"),
            F.col(import_rec.row_id).alias("tgt_rid"),
        ),
    )

    # ---- world 3: pipeline dedup over the DTL export
    exported = exporter.tables["kept"]
    result, mapping = exact_dedup_canonical(
        exported, "doc_id", ["text"], with_lineage=True
    )
    pipe_src_uid, _ = record_pipeline_step(
        tracer,
        src_name="kept_corpus",
        tgt_name="deduped",
        src_df=exported,
        tgt_df=result,
        mapping=mapping,
        src_key="doc_id",
        tgt_key="doc_id",
    )
    export_rec = next(
        t for t in tracer.tables if t.level == "EXPORT" and t.name == "kept"
    )
    export_snap = spark.read.parquet(f"{trace_dir}/{export_rec.path}")
    tracer.record_mapping(
        export_rec.id,
        pipe_src_uid,
        kind="by_key",
        pairs=export_snap.select(
            F.col(export_rec.row_id).alias("src_rid"),
            F.col("doc_id").alias("tgt_rid"),
        ),
    )
    tracer.write_manifest()

    # ---- one walk, five mappings, three worlds
    reader = TraceReader(spark, trace_dir)
    lin = reader.lineage("stream_src", "deduped")
    got = {(r.src_rid, r.tgt_rid) for r in lin.collect()}

    survive = {d for d, _, n in rows if n >= 80}  # both filters
    texts = {d: t for d, t, _ in rows}
    canon = {
        d: min(x for x in survive if texts[x] == texts[d]) for d in survive
    }
    assert got == {(d, canon[d]) for d in survive}
    # the dropped duplicate (doc 3) contributes NO pair
    assert all(s != 3 for s, _ in got)
    # and why() answers across the full chain: kept doc 0 <- {0, 6}
    kept0 = result.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("__rid")
    )
    origin = reader.why("deduped", "stream_src", kept0)
    assert sorted(r["__rid"] for r in origin.collect()) == [0, 6]


def test_edit_distance_keep_one_lineage_walk(spark, tmp_path):
    """The character grain joins the provenance story: typo-cluster
    pairs (edit_distance_pairs) → keep_one_from_pairs(with_lineage) →
    record_pipeline_step, and TraceReader.why() answers "why was this
    title dropped" exactly as it does for the MinHash flagship —
    every typo variant maps to its cluster's surviving minimum id."""
    from python_dtl_spark.lineage import record_pipeline_step
    from python_dtl_spark.operators.dedup import (
        edit_distance_pairs,
        keep_one_from_pairs,
    )

    titles = spark.createDataFrame(
        [
            (0, "spark engine"),
            (1, "spark engine"),   # typo of 0
            (2, "spark enginee"),  # typo of 1 (chain: 0-1-2 transitive)
            (3, "duckdb oracle"),
            (4, "duckdb oracle"),  # exact dup of 3
            (5, "unrelated"),
        ],
        "doc_id long, title string",
    )
    pairs = edit_distance_pairs(titles, "doc_id", "title")
    result, mapping = keep_one_from_pairs(
        titles.select("doc_id"), pairs, id_col="doc_id", with_lineage=True
    )
    trace_dir = os.path.join(str(tmp_path), "edtrace")
    tracer = FileSystemTracer(trace_dir)
    record_pipeline_step(
        tracer,
        src_name="titles",
        tgt_name="kept",
        src_df=titles,
        tgt_df=result.filter(F.col("keep")),
        mapping=mapping,
        src_key="doc_id",
        tgt_key="doc_id",
    )
    tracer.write_manifest()
    reader = TraceReader(spark, trace_dir)
    # the transitive typo chain 0-1-2 all trace to survivor 0
    kept0 = reader.snapshot("kept").filter(F.col("__rid") == 0)
    origin = reader.why("kept", "titles", kept0)
    assert sorted(r["__rid"] for r in origin.collect()) == [0, 1, 2]
    # exact-dup cluster 3-4 traces to 3; singleton 5 to itself
    kept3 = reader.snapshot("kept").filter(F.col("__rid") == 3)
    assert sorted(
        r["__rid"] for r in reader.why("kept", "titles", kept3).collect()
    ) == [3, 4]
    kept5 = reader.snapshot("kept").filter(F.col("__rid") == 5)
    assert [
        r["__rid"] for r in reader.why("kept", "titles", kept5).collect()
    ] == [5]


def test_filesystem_layout_writes_only_by_key_mapping_files(spark, tmp_path):
    """An exact trace writes one snapshot per statement and a mapping
    file only for by_key mappings: by-construction mappings are two
    columns of their target's snapshot, and the EXPORT passthrough
    shares its binding's snapshot instead of writing one."""
    import glob

    trace_dir = os.path.join(str(tmp_path), "layout")
    _run(
        spark,
        """
        WITH a AS IMPORT 'a';
        WITH big AS SELECT key, value, parity FROM a WHERE value > 10;
        WITH g AS SELECT parity, sum(value) AS total FROM big GROUP BY parity;
        EXPORT g TO 'out';
        """,
        {
            "a": (
                [(1, 10, 1), (2, 20, 0), (3, 30, 1), (4, 40, 0)],
                "key long, value long, parity long",
            )
        },
        FileSystemTracer(trace_dir),
    )
    manifest = json.load(open(os.path.join(trace_dir, "trace.json")))
    tables = {t["name"]: t for t in manifest["tables"]}
    kinds = {m["kind"] for m in manifest["mappings"]}
    assert kinds == {"by_construction", "by_key"}
    # mappings/ holds exactly the by_key pairs files
    mapping_files = sorted(
        os.path.relpath(p, trace_dir)
        for p in glob.glob(os.path.join(trace_dir, "mappings", "*"))
    )
    assert mapping_files == sorted(
        m["path"] for m in manifest["mappings"] if m["kind"] == "by_key"
    )
    for m in manifest["mappings"]:
        if m["kind"] == "by_construction":
            assert m["path"].startswith("tables/") and len(m["columns"]) == 2
    # one snapshot per statement; the export shares g's file and rids
    assert len(glob.glob(os.path.join(trace_dir, "tables", "*"))) == 3
    assert tables["out"]["path"] == tables["g"]["path"]
    assert tables["out"]["row_id"] == tables["g"]["row_id"]
    assert all(t["schema"] is not None for t in manifest["tables"])

    reader = TraceReader(spark, trace_dir)
    assert reader.mapping("a", "big").count() == 3
    assert reader.mapping("big", "g").count() == 3
    assert reader.mapping("g", "out").count() == 2
    assert reader.lineage("a", "out").count() == 3


# LEFT JOIN leaves the unmatched customers' order rids NULL; GROUP BY
# maps by key; `latest` and the EXPORT are passthroughs.
EQUIV_SCRIPT = """
    WITH o AS IMPORT 'o';
    WITH c AS IMPORT 'c';
    WITH j AS SELECT c.ckey AS ckey, okey, price
              FROM c LEFT JOIN o ON c.ckey = o.ckey;
    WITH g AS SELECT ckey, count(okey) AS n, sum(price) AS total
              FROM j GROUP BY ckey;
    WITH latest AS g;
    EXPORT latest TO 'out';
    """
EQUIV_INPUTS = {
    "o": (
        [(10, 1, 5), (11, 1, 7), (12, 2, 9), (13, 9, 4)],
        "okey long, ckey long, price long",
    ),
    "c": ([(1,), (2,), (3,)], "ckey long"),
}


def _data_rows(df):
    return sorted(tuple(r) for r in df.drop("__rid").collect())


def _mem_answers(tracer, chain, tgt_rows, src_rows):
    """why/where_used over an InMemoryTracer, composed along ``chain``
    (statement names, source first) with the same algebra TraceReader
    uses.  ``tgt_rows``/``src_rows`` pick the asked-about rows of the
    last/first table; returns (why data rows, where_used data rows)."""
    recs = [_snap(tracer, name) for name in chain]
    pairs = None
    for (_, a), (_, b) in zip(recs, recs[1:]):
        step = _pairs(tracer, a.id, b.id)
        pairs = step if pairs is None else compose(pairs, step)

    def with_rid(df, rec):
        names = [c["name"] for c in rec.columns]
        return df.select(*names, F.col(rec.row_id).alias("__rid"))

    src, tgt = with_rid(*recs[0]), with_rid(*recs[-1])
    why_rids = (
        pairs.join(tgt_rows(tgt).select(F.col("__rid").alias("tgt_rid")), "tgt_rid")
        .select(F.col("src_rid").alias("__rid"))
        .dropDuplicates()
    )
    where_rids = (
        pairs.join(src_rows(src).select(F.col("__rid").alias("src_rid")), "src_rid")
        .select(F.col("tgt_rid").alias("__rid"))
        .dropDuplicates()
    )
    return (
        _data_rows(src.join(why_rids, "__rid")),
        _data_rows(tgt.join(where_rids, "__rid")),
    )


def test_filesystem_and_in_memory_tracers_agree(spark, tmp_path):
    """Column mappings (with NULL source rids dropped), pairs files and
    shared passthrough snapshots answer why/where_used with exactly the
    rows the in-memory tracer's pinned pairs give."""
    trace_dir = os.path.join(str(tmp_path), "equiv")
    _run(spark, EQUIV_SCRIPT, EQUIV_INPUTS, FileSystemTracer(trace_dir))
    mem = InMemoryTracer()
    _run(spark, EQUIV_SCRIPT, EQUIV_INPUTS, mem)
    reader = TraceReader(spark, trace_dir)
    # customer 3 matched no order: its NULL order rid yields no pair
    o_j = reader.mapping("o", "j")
    assert o_j.count() == 3 and o_j.filter(F.col("src_rid").isNull()).count() == 0

    def out_rows(df):
        return df.filter(F.col("ckey") <= 2)

    expected = {
        # why(out ckey 1, 2): orders 10-12; where_used(orders but 12)
        "o": (
            [(10, 1, 5), (11, 1, 7), (12, 2, 9)],
            [(1, 2, 12)],
            lambda df: df.filter(F.col("okey") != 12),
        ),
        # why(out ckey 1, 2): customers 1, 2; where_used(customers 1, 3)
        "c": (
            [(1,), (2,)],
            [(1, 2, 12), (3, 0, None)],
            lambda df: df.filter(F.col("ckey") != 2),
        ),
    }
    for src, (why_rows, where_rows, src_rows) in expected.items():
        fs_why = _data_rows(reader.why("out", src, out_rows(reader.snapshot("out"))))
        fs_where = _data_rows(
            reader.where_used(src, "out", src_rows(reader.snapshot(src)))
        )
        assert (fs_why, fs_where) == (why_rows, where_rows)
        mem_answers = _mem_answers(
            mem, [src, "j", "g", "latest", "out"], out_rows, src_rows
        )
        assert mem_answers == (fs_why, fs_where)


def test_reader_accepts_trace_without_schema_and_columns_keys(spark, tmp_path):
    """A trace in the layout written before schemas and column mappings
    were recorded — every mapping a (src_rid, tgt_rid) pairs file, no
    ``schema`` or ``columns`` keys — reads to the same answers."""
    import shutil

    new_dir = os.path.join(str(tmp_path), "new")
    _run(spark, EQUIV_SCRIPT, EQUIV_INPUTS, FileSystemTracer(new_dir))
    old_dir = os.path.join(str(tmp_path), "old")
    shutil.copytree(new_dir, old_dir)
    reader = TraceReader(spark, new_dir)
    manifest = json.load(open(os.path.join(old_dir, "trace.json")))
    for m in manifest["mappings"]:
        if m.pop("columns") is not None:
            m["path"] = f"mappings/{m['id']}.parquet"
            reader.mapping(m["src"], m["tgt"]).write.parquet(
                os.path.join(old_dir, m["path"])
            )
    for rec in manifest["tables"] + manifest["mappings"]:
        del rec["schema"]
    with open(os.path.join(old_dir, "trace.json"), "w") as f:
        json.dump(manifest, f)
    old = TraceReader(spark, old_dir)
    assert all("columns" not in m for m in old.manifest["mappings"])

    def answers(r):
        out = r.snapshot("out").filter(F.col("ckey") <= 2)
        orders = r.snapshot("o").filter(F.col("okey") != 12)
        return (
            _data_rows(r.why("out", "o", out)),
            _data_rows(r.where_used("o", "out", orders)),
            _data_rows(r.snapshot("g")),
            sorted(tuple(x) for x in r.lineage("c", "out").collect()),
        )

    assert answers(old) == answers(reader)


def _sorted_rows(df):
    return df.columns, sorted(tuple(r) for r in df.collect())


def _rows_by_tag(frames):
    """Each frame's rows as sorted JSON strings, collected in one job."""
    tagged = [
        df.select(
            F.lit(tag).alias("tag"), F.to_json(F.struct(*df.columns)).alias("row")
        )
        for tag, df in frames.items()
    ]
    out = {}
    for r in functools.reduce(DataFrame.unionByName, tagged).collect():
        out.setdefault(r["tag"], []).append(r["row"])
    return {tag: sorted(rows) for tag, rows in out.items()}


def _half(df):
    return df.filter(F.col("__rid") % 2 == 0)


def _rows_via(pairs, near, far, asked, snap):
    """The rows of ``snap`` that ``pairs`` relate to the ``asked`` rows,
    the answer derived from the full lineage relation."""
    rids = (
        pairs.join(asked.select(F.col("__rid").alias(near)), near)
        .select(F.col(far).alias("__rid"))
        .dropDuplicates()
    )
    return snap.join(rids, "__rid")


@pytest.mark.parametrize(
    "script, inputs",
    [(DIAMOND_SCRIPT, {"a": NUMS}), (EQUIV_SCRIPT, EQUIV_INPUTS)],
    ids=["diamond", "equiv"],
)
def test_why_and_where_used_equal_full_lineage_answers(
    spark, tmp_path, script, inputs
):
    """For every table pair with a path, pushing the asked rows hop by
    hop gives exactly the rows (and columns) the full ``lineage()``
    relation joined to the snapshots gives."""
    trace_dir = os.path.join(str(tmp_path), "trace")
    _run(spark, script, inputs, FileSystemTracer(trace_dir))
    reader = TraceReader(spark, trace_dir)
    ids = [t["id"] for t in reader.tables()]
    checked = 0
    for src in ids:
        for tgt in ids:
            pairs = reader.lineage(src, tgt)
            if pairs is None:
                continue
            src_snap, tgt_snap = reader.snapshot(src), reader.snapshot(tgt)
            answers = {
                "why": reader.why(tgt, src, _half(reader.snapshot(tgt))),
                "why_lineage": _rows_via(
                    pairs, "tgt_rid", "src_rid", _half(tgt_snap), src_snap
                ),
                "where": reader.where_used(src, tgt, _half(reader.snapshot(src))),
                "where_lineage": _rows_via(
                    pairs, "src_rid", "tgt_rid", _half(src_snap), tgt_snap
                ),
            }
            rows = _rows_by_tag(answers)
            for q in ("why", "where"):
                lin = f"{q}_lineage"
                assert answers[q].columns == answers[lin].columns
                assert rows.get(q) == rows.get(lin), (src, tgt, q)
            checked += 1
    # every table reaches itself and at least one other table
    assert checked > len(ids)


def test_why_and_where_used_plans_have_no_aggregate(spark, tmp_path):
    """Questions walk semi-join frontiers: no composition, no
    dropDuplicates, so the optimized plans hold no Aggregate."""
    trace_dir = os.path.join(str(tmp_path), "equiv")
    _run(spark, EQUIV_SCRIPT, EQUIV_INPUTS, FileSystemTracer(trace_dir))
    reader = TraceReader(spark, trace_dir)
    out = reader.snapshot("out").filter(F.col("ckey") <= 2)
    orders = reader.snapshot("o").filter(F.col("okey") != 12)
    for df in (reader.why("out", "o", out), reader.where_used("o", "out", orders)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Aggregate" not in plan and "Deduplicate" not in plan
        assert "Join LeftSemi" in plan


def test_questions_without_path_raise_and_same_table_is_identity(spark, tmp_path):
    trace_dir = os.path.join(str(tmp_path), "equiv")
    _run(spark, EQUIV_SCRIPT, EQUIV_INPUTS, FileSystemTracer(trace_dir))
    reader = TraceReader(spark, trace_dir)
    orders = reader.snapshot("o")
    # o and c are both imports: neither reaches the other
    with pytest.raises(KeyError, match="no lineage path"):
        reader.why("c", "o", reader.snapshot("c"))
    with pytest.raises(KeyError, match="no lineage path"):
        reader.where_used("out", "o", reader.snapshot("out"))
    with pytest.raises(KeyError, match="no trace table"):
        reader.why("out", "nope", reader.snapshot("out"))
    asked = orders.filter(F.col("okey") >= 12)
    expected = _sorted_rows(asked.select("__rid", "okey", "ckey", "price"))
    assert _sorted_rows(reader.why("o", "o", asked)) == expected
    assert _sorted_rows(reader.where_used("o", "o", asked)) == expected
