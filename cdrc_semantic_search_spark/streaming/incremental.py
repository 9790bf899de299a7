"""Incremental / streaming ingestion (Structured Streaming).

The reference's incrementality is batch change-detection: re-ingest only
when the remote file ledger differs (/root/reference/src/query_api.py:55-70,
scripts/update_datastore.py:6-21). Re-expressed two ways:

* ``KGPipeline.run_partitioned`` — the direct analog: anti-join
  uncommitted partitions against the commit ledger, process only those.
* ``stream_triples`` — the Spark-native upgrade: a file-source stream over
  the transcripts directory with ``trigger(availableNow=True)`` micro-
  batches; each micro-batch runs extraction+linking via ``foreachBatch``
  and commits to the ledger catalog. Checkpointed: a crashed run resumes
  from the stream checkpoint, and per-batch ledger commits keep outputs
  idempotent (batch id = partition key).

``stream_pq_upsert`` / ``compacted_pq_codes`` keep a PQ vector index
fresh the same way: ledgered code deltas, merged on read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def transcript_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a transcripts parquet directory."""
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def _last_checkpointed_batch(checkpoint_dir: str) -> int:
    """The newest batch id in the stream checkpoint's commit log, -1 if
    none. Spark runs micro-batches in id order and logs each one's commit
    after its ``foreachBatch`` returns, so every id up to this one is
    done; the log purges its oldest entries, so only the newest counts."""
    try:
        names = os.listdir(os.path.join(checkpoint_dir, "commits"))
    except FileNotFoundError:
        return -1
    return max((int(n) for n in names if n.isdigit()), default=-1)


def stream_triples(
    spark: SparkSession,
    pipeline: KGPipeline,
    input_dir: str,
    catalog: ParquetTableCatalog,
    checkpoint_dir: str,
    table: str = "stream_triples",
    with_graph: bool = False,
) -> None:
    """Run extraction+linking per micro-batch; blocks until no files remain.

    Each micro-batch commits partition ``batch_id`` to the ledger with
    row/turn counts — re-delivered batches overwrite idempotently rather
    than append twice (exactly-once effect on the table). The turn count
    comes from an Observation that rides the triples write, so a batch
    runs no counting job; a batch with no rows commits empty partitions.

    ``with_graph=True`` additionally commits the batch's
    edge/node/surface DELTAS (same log-structured scheme as
    ``KGPipeline.run_partitioned``, through the same
    ``KGPipeline.commit_batch``): one extraction pass per batch feeds
    the triples and the node and surface deltas, and once the triples
    are committed the three deltas commit at the same time. The merge
    algebra (merge(f(A), f(B)) ≡ f(A ∪ B)) makes the compacted graph
    independent of how the stream happened to micro-batch the turns, so
    ``compacted_edges``/``compacted_nodes``/``compacted_surface_clusters``
    over a streamed catalog equal the one-shot batch rebuild (asserted
    in tests/test_streaming.py).

    Torn batches self-heal: a crash inside ``process`` leaves the batch
    out of the checkpoint's commit log, so availableNow re-delivers it
    and the idempotent partition overwrites repair every table.  What
    CANNOT self-heal is a batch the commit log records whose triples
    were committed WITHOUT some delta table (e.g. written before
    with_graph, or by an older build) — the source files are
    checkpointed away and node/surface deltas need the original batch
    rows.  That state is detected up front and raises rather than
    silently compacting an incomplete graph.
    """
    if with_graph:
        last = _last_checkpointed_batch(checkpoint_dir)
        done = {p for p in catalog.committed_partitions(table) if int(p) <= last}
        gaps = {
            t: sorted(
                done
                - catalog.committed_partitions(t)
                - catalog.retired_partitions(t)  # folded into a base by compaction
            )
            for t in KGPipeline.DELTA_TABLES
        }
        gaps = {t: ps for t, ps in gaps.items() if ps}
        if gaps:
            raise ValueError(
                f"graph deltas missing for already-checkpointed batches: {gaps}. "
                "The stream checkpoint will not re-deliver those batches; "
                "replay the source into a FRESH catalog (re-committing into "
                "this one is refused once partitions are retired) to get a "
                "complete compacted graph."
            )

    snapshot = f"stream:{os.path.basename(input_dir)}"
    deltas = KGPipeline.DELTA_TABLES if with_graph else ()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pipeline.commit_batch(
            catalog, batch_df, str(batch_id), snapshot, table=table, deltas=deltas
        )

    q = (
        transcript_stream(spark, input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_pq_upsert(
    spark: SparkSession,
    input_dir: str,
    catalog: ParquetTableCatalog,
    checkpoint_dir: str,
    prefix: str = "pq_index",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    source_schema: str | None = None,
) -> None:
    """Streaming vector-index maintenance: each micro-batch of new
    embeddings is PQ-encoded with the STORED codebooks and committed as
    a ledgered code-delta partition — no read-modify-write of the codes
    table per batch (impossible at 10^12 vectors), the same
    log-structured scheme as the streaming graph deltas. Read the
    current index merge-on-read via :func:`compacted_pq_codes` (latest
    batch wins per id). Re-delivered batches overwrite idempotently.

    Codebooks stay fixed across the stream (re-training invalidates all
    stored codes and is a rebuild, not an upsert; materialize_pq_index
    retires the delta generation for exactly that reason).

    ``source_schema``: the file stream's DDL schema; defaults to
    ``"<id_col> long, <vec_col> array<double>"`` — pass the real one for
    string ids / float32 arrays.
    """
    from cdrc_semantic_search_spark.operators.similarity import (
        codebooks_from_df,
        pq_encode,
    )

    books = codebooks_from_df(catalog.read_table(spark, f"{prefix}_codebooks"))
    snapshot = f"stream:{os.path.basename(input_dir)}"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # cheap probe, not a full count pass
            return
        codes = pq_encode(
            spark,
            batch_df.select(
                F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
            ),
            "c_id",
            "c_vec",
            books,
        ).withColumn("batch_id", F.lit(batch_id))
        # a micro-batch may legitimately carry the same id twice (two
        # files, an at-least-once upstream); a file stream has no
        # within-batch order, so "latest" is undefined — dedupe by a
        # DETERMINISTIC total order (lexicographic on the codes array)
        # or the compacted view's winner would be partition-dependent
        dw = Window.partitionBy("c_id").orderBy(F.asc("codes"))
        codes = (
            codes.withColumn("__rn", F.row_number().over(dw))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # no pre-counted metric: the ledger's row_count is the committed
        # truth (a source-side count would disagree whenever pq_encode
        # drops NULL embeddings)
        catalog.overwrite_partition(
            codes,
            f"{prefix}_code_deltas",
            partition=str(batch_id),
            source_snapshot=snapshot,
        )

    schema = source_schema or f"{id_col} long, {vec_col} array<double>"
    q = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def compacted_pq_codes(spark: SparkSession, catalog: ParquetTableCatalog,
                       prefix: str = "pq_index") -> DataFrame:
    """Merge-on-read view of a streamed PQ index: committed code-delta
    partitions, latest batch winning per id. stream_pq_upsert dedupes
    ids within each batch before committing, but the window still
    carries a deterministic within-generation tiebreak (codes asc) so a
    base table written by another tool with duplicate ids compacts to
    the same winner on every run — determinism here is a contract, not
    an assumption about writers. A pre-existing batch-built
    ``<prefix>_codes`` table, if any, participates as generation -1
    (the base the stream upserts over)."""
    # columns are the canonical (c_id, codes) the writers emit: both
    # stream_pq_upsert and materialize_pq_index normalize to them
    try:
        deltas = catalog.read_committed(spark, f"{prefix}_code_deltas").select(
            "c_id", "codes", "batch_id"
        )
    except FileNotFoundError:
        deltas = None  # purely batch-built index: no stream ran yet
    base_path = catalog.table_path(f"{prefix}_codes")
    if os.path.exists(base_path):
        base = catalog.read_table(spark, f"{prefix}_codes").select(
            "c_id", "codes", F.lit(-1).alias("batch_id")
        )
        deltas = base if deltas is None else base.unionByName(deltas)
    if deltas is None:
        raise FileNotFoundError(
            f"no {prefix}_codes base and no committed {prefix}_code_deltas"
        )
    w = Window.partitionBy("c_id").orderBy(F.desc("batch_id"), F.asc("codes"))
    return (
        deltas.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("c_id", "codes")
    )
