"""Manual end-to-end drive of the engine via its public API (verification aid)."""
import tempfile

from _harness import session


def main() -> None:
    spark = session("cdrc-drive")

    from cdrc_semantic_search_spark import Settings, fixtures
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

    fx = fixtures.generate(seed=7, n_conversations=40, n_entities=80)
    tdf, edf = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())

    tri = pipe.triples(tdf)
    print("=== triples sample ===")
    tri.show(5, truncate=False)
    print("triples:", tri.count(), " truth:", len(fx.truth_triples))

    edges = pipe.kg_edges(tri)
    nodes = pipe.kg_nodes(pipe.mentions(tdf))
    print("=== kg_edges sample ===")
    edges.orderBy("subj_entity_id").show(3, truncate=False)
    print("=== kg_nodes top mentions ===")
    nodes.orderBy("n_mentions", ascending=False).show(3, truncate=False)

    root = tempfile.mkdtemp()
    cat = ParquetTableCatalog(root)
    ran1 = pipe.run_partitioned(tdf, cat, source_snapshot="seed7")
    n1 = cat.read_committed(spark, "triples").count()
    ran2 = pipe.run_partitioned(tdf, cat)
    n2 = cat.read_committed(spark, "triples").count()
    print(f"partitioned: {len(ran1)} buckets, {n1} triples; resume ran {len(ran2)} buckets, {n2} triples; no-dupes={n1 == n2 == tri.count()}")
    print("ledger[0]:", cat.ledger("triples")[0])
    print("empty-input triples:", pipe.triples(tdf.filter("conv_id = 'nope'")).count())
    spark.stop()


if __name__ == "__main__":
    main()
