"""Where the span run attaches to the program: one entry per layer.

Each layer is named after the module whose public functions it times:

* ``lang``: ``lang.parse`` (tokenize + parse), looked up by the compiler and
  the runtime at call time;
* ``compiler``: ``compiler.Engine.run_script``;
* ``sources.import`` / ``sources.export``: timing subclasses of the
  file-system importer and exporter, put where ``runtime`` and ``catalog``
  look the classes up;
* ``lineage.snapshot`` / ``lineage.mapping``: a timing subclass of
  ``FileSystemTracer``; ``lineage.lineage``: ``TraceReader.lineage``;
* ``operators.<module>``: every public function of an operator module,
  wrapped on the module the catalog calls it through;
* ``streaming``: the streaming functions, wrapped where ``catalog`` looks
  them up.
"""

from __future__ import annotations

import os

from spans import Spans, dir_bytes

#: Operator modules reported one by one; the rest are ``operators.other``.
NAMED_OPERATORS = (
    "dedup",
    "text",
    "similarity",
    "sampling",
    "classify",
    "stats",
    "embeddings",
)
OTHER_OPERATORS = (
    "analytics",
    "cdc",
    "joins",
    "multimodal",
    "partitioning",
    "rollup",
    "semistructured",
    "timeutil",
    "urls",
    "windows",
)
STREAMING_NAMES = (
    "interval_join",
    "session_windows",
    "sliding_event_counts",
    "tumbling_event_stats",
)


def install(spans: Spans) -> None:
    """Install every layer's wrappers on the already-imported program."""
    import importlib

    from python_dtl_spark import catalog, compiler, lang, lineage, runtime, sources
    from python_dtl_spark.lang import parser

    spans.wrap(lang, "parse", "lang")
    spans.wrap(parser, "parse", "lang")
    spans.wrap(compiler.Engine, "run_script", "compiler")
    spans.wrap(lineage.TraceReader, "lineage", "lineage.lineage")
    for name in NAMED_OPERATORS:
        module = importlib.import_module(f"python_dtl_spark.operators.{name}")
        spans.wrap_module(module, f"operators.{name}")
    for name in OTHER_OPERATORS:
        module = importlib.import_module(f"python_dtl_spark.operators.{name}")
        spans.wrap_module(module, "operators.other")
    for name in STREAMING_NAMES:
        spans.wrap(catalog, name, "streaming")

    class TimedImporter(sources.FileSystemImporter):
        def import_table(self, name):
            with spans.layer("sources.import"):
                return super().import_table(name)

    class TimedExporter(sources.FileSystemExporter):
        def export_table(self, name, df):
            with spans.phase("action"), spans.layer("sources.export"):
                super().export_table(name, df)
            spans.add(
                "sources.export_bytes",
                dir_bytes(os.path.join(self._root, f"{name}.{self._fmt}")),
            )
            spans.frames.append(df)

    class TimedTracer(lineage.FileSystemTracer):
        def materialize(self, uid, df, level="STATEMENT"):
            with spans.layer("lineage.snapshot"):
                out = super().materialize(uid, df, level)
            spans.add(
                "lineage.snapshot_bytes",
                dir_bytes(os.path.join(self.root, "tables", f"{uid}.parquet")),
            )
            return out

        def record_mapping(self, src, tgt, *, kind, pairs):
            path = os.path.join(
                self.root, "mappings", f"m{len(self.mappings):03d}.parquet"
            )
            with spans.layer("lineage.mapping"):
                super().record_mapping(src, tgt, kind=kind, pairs=pairs)
            spans.add("lineage.mapping_bytes", dir_bytes(path))

    spans.replace(runtime, "FileSystemImporter", TimedImporter)
    spans.replace(catalog, "FileSystemImporter", TimedImporter)
    spans.replace(runtime, "FileSystemExporter", TimedExporter)
    spans.replace(lineage, "FileSystemTracer", TimedTracer)
