"""Where the traced run puts its spans, and the per-layer metrics it reads
off them.

Spark plans are lazy, so a layer's work runs inside whichever call
executes its plan. Spans therefore sit around the calls that execute
work, and take the layer name of what they execute: a catalog write of
the ``triples`` table runs extraction, a write of ``mentions`` (or of the
per-batch ``node_deltas``, which counts freshly linked mentions) runs
linking, and so on. Calls that only build a plan are not spanned, except
the canonicalization entry points, which run their connected-components
rounds eagerly.

Layers are the repository's modules: ``session``, ``plans.kg_pipeline``,
``operators.extraction``, ``operators.linking``,
``operators.canonicalize``, ``sources.catalog`` and
``streaming.incremental``.
"""

from __future__ import annotations

import os
import statistics

from spans import Tracer, seconds

# catalog table -> the layer whose work a write of it executes
TABLE_LAYER = {
    "triples": "extraction.triples",
    "stream_triples": "extraction.triples",
    "mentions": "linking.mentions",
    "node_deltas": "linking.mentions",
    "kg_edges": "kg_pipeline.edges",
    "edge_deltas": "kg_pipeline.edges",
    "kg_nodes": "kg_pipeline.nodes",
    "surface_deltas": "kg_pipeline.surfaces",
    "surface_clusters": "canonicalize.clusters",
}
_STAGING = ".staging"  # compact_graph writes each base table here first

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.get_spark_s": "s",
    "kg_pipeline.init_s": "s",
    "kg_pipeline.graph_s": "s",
    "kg_pipeline.edges_s": "s",
    "kg_pipeline.nodes_s": "s",
    "kg_pipeline.read_s": "s",
    "extraction.triples_s": "s",
    "extraction.us_per_turn": "us",
    "extraction.turns_in": "count",
    "extraction.triples_out": "count",
    "extraction.jobs": "count",
    "extraction.tasks": "count",
    "linking.mentions_s": "s",
    "linking.mentions_out": "count",
    "linking.embed_ratio": "ratio",
    "linking.unlinked_ratio": "ratio",
    "canonicalize.clusters_s": "s",
    "canonicalize.components_s": "s",
    "canonicalize.surfaces_in": "count",
    "canonicalize.new_surfaces": "count",
    "canonicalize.clusters_out": "count",
    "canonicalize.jobs": "count",
    "catalog.write_s": "s",
    "catalog.commit_s": "s",
    "catalog.commits": "count",
    "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    "streaming.batches": "count",
    "streaming.batch_turns": "count",
    "streaming.batch_s": "s",
    "trace.update_s": "s",
    "trace.self_cover": "ratio",
}


def _writer_span(writer, path, *args, **kwargs):
    base = os.path.basename(os.path.normpath(path))
    if base.endswith(_STAGING):
        return TABLE_LAYER.get(base[: -len(_STAGING)], "catalog.data")
    return "catalog.data"


def _files_written(rec, result, args, kwargs) -> None:
    n = size = 0
    for d, _, files in os.walk(args[1] if len(args) > 1 else kwargs["path"]):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    rec["attrs"].update(files=n, bytes=size)


def instrument(tracer: Tracer) -> None:
    """Patch the layer boundaries; a no-op unless the tracer is enabled."""
    from pyspark.sql.readwriter import DataFrameWriter

    from cdrc_semantic_search_spark import session
    from cdrc_semantic_search_spark.operators import canonicalize
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

    def table_layer(catalog, df, name, *args, **kwargs):
        return TABLE_LAYER.get(name, "catalog.other")

    def catalog_call(catalog, df, name, *args, **kwargs):
        return {"catalog": True, "table": name}

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(KGPipeline, "__init__", "kg_pipeline.init")
    tracer.wrap(KGPipeline, "materialize", "kg_pipeline.graph")
    tracer.wrap(KGPipeline, "compact_graph", "kg_pipeline.graph")
    tracer.wrap(KGPipeline, "commit_graph_deltas", "kg_pipeline.deltas")
    tracer.wrap(KGPipeline, "surface_clusters", "canonicalize.clusters")
    tracer.wrap(KGPipeline, "compacted_surface_clusters", "canonicalize.clusters")
    tracer.wrap(canonicalize, "canonicalize_embedded", "canonicalize.components")
    tracer.wrap(canonicalize, "incremental_components", "canonicalize.components")
    tracer.wrap(ParquetTableCatalog, "create_or_replace", table_layer, catalog_call)
    tracer.wrap(ParquetTableCatalog, "overwrite_partition", table_layer, catalog_call)
    tracer.wrap(DataFrameWriter, "parquet", _writer_span, after=_files_written)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def cycle_metrics(tracer: Tracer, cycle: dict, counts: dict) -> dict[str, float]:
    """Per-layer numbers for one timed cycle (the span ``cycle`` and all
    spans under it); ``counts`` holds what the output checks counted."""
    spans = tracer.subtree(cycle)
    selfs = tracer.self_times()

    def named(*names):
        return lambda s: s["name"] in names

    def total(*names):
        return seconds(tracer.outermost(spans, named(*names)))

    def jobs(*names, key="jobs"):
        tops = tracer.outermost(spans, named(*names))
        return sum(s[key] for top in tops for s in tracer.subtree(top))

    catalog_calls = tracer.outermost(spans, lambda s: s["attrs"].get("catalog"))
    data_writes = [s for s in spans if "files" in s["attrs"]]
    # catalog calls, and the base-table writes compact_graph makes itself
    writes = tracer.outermost(
        spans, lambda s: s["attrs"].get("catalog") or "files" in s["attrs"]
    )
    turns = counts["turns"]
    triples_s = total("extraction.triples")
    return {
        "kg_pipeline.graph_s": total("kg_pipeline.graph"),
        "kg_pipeline.edges_s": total("kg_pipeline.edges"),
        "kg_pipeline.nodes_s": total("kg_pipeline.nodes"),
        "kg_pipeline.read_s": total("read"),
        "extraction.triples_s": triples_s,
        "extraction.us_per_turn": 1e6 * triples_s / turns,
        "extraction.turns_in": turns,
        "extraction.triples_out": counts["triples"],
        "extraction.jobs": jobs("extraction.triples"),
        "extraction.tasks": jobs("extraction.triples", key="tasks"),
        "linking.mentions_s": total("linking.mentions"),
        "linking.mentions_out": counts["mentions"],
        "linking.embed_ratio": counts["embed_ratio"],
        "linking.unlinked_ratio": counts["unlinked_ratio"],
        "canonicalize.clusters_s": total("canonicalize.clusters"),
        "canonicalize.components_s": total("canonicalize.components"),
        "canonicalize.surfaces_in": counts["surfaces"],
        "canonicalize.new_surfaces": counts["new_surfaces"],
        "canonicalize.clusters_out": counts["clusters"],
        "canonicalize.jobs": jobs("canonicalize.clusters", "canonicalize.components"),
        "catalog.write_s": seconds(writes),
        "catalog.commit_s": sum(selfs[s["id"]] for s in catalog_calls),
        "catalog.commits": len(catalog_calls),
        "catalog.bytes_written": sum(s["attrs"]["bytes"] for s in data_writes),
        "catalog.files_written": sum(s["attrs"]["files"] for s in data_writes),
        "streaming.batches": counts["batches"],
        "streaming.batch_turns": counts["batch_turns"],
        "streaming.batch_s": counts["batch_s"],
        "trace.update_s": counts["update_s"],
    }


def per_layer(tracer: Tracer, cycles: list[tuple[dict, dict]], wall: tuple[float, float]) -> dict:
    """Median over the timed cycles of each per-layer number, plus the
    set-up spans and how much of the traced wall time the spans cover."""
    rows = [cycle_metrics(tracer, c, counts) for c, counts in cycles]
    out = {name: _median([r[name] for r in rows]) for name in rows[0]}
    for name in ("session.get_spark", "kg_pipeline.init"):
        out[name + "_s"] = _median(
            [s["end"] - s["start"] for s in tracer.spans if s["name"] == name]
        )
    # every span descends from a top-level one, so this is the share of
    # the traced wall time the top-level spans cover
    out["trace.self_cover"] = sum(tracer.self_times().values()) / (wall[1] - wall[0])
    return {name: {"value": out[name], "unit": unit} for name, unit in PER_LAYER.items()}
