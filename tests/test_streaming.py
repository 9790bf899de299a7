from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.config import Settings
from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog
from cdrc_semantic_search_spark.streaming import incremental


@pytest.fixture(scope="module")
def transcript_dir(spark, spark_fixture, tmp_path_factory):
    tdf, _ = spark_fixture
    d = str(tmp_path_factory.mktemp("transcripts"))
    # several files so maxFilesPerTrigger yields multiple micro-batches
    tdf.repartition(8).write.mode("overwrite").parquet(d)
    return d


def test_stream_triples_matches_batch(spark, fixture, spark_fixture, transcript_dir, tmp_path):
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "cat"))
    incremental.stream_triples(
        spark, pipe, transcript_dir, cat, checkpoint_dir=str(tmp_path / "ckpt")
    )
    ledger = cat.ledger("stream_triples")
    assert len(ledger) >= 2, "expected multiple micro-batches"
    streamed = cat.read_committed(spark, "stream_triples")
    batch = pipe.triples(tdf)
    key = ["conv_id", "turn_idx", "subj_entity_id", "pred", "obj_entity_id"]
    got = {tuple(r) for r in streamed.select(*key).collect()}
    want = {tuple(r) for r in batch.select(*key).collect()}
    assert got == want
    # restart with same checkpoint: no new batches, no duplicates
    n_before = streamed.count()
    incremental.stream_triples(
        spark, pipe, transcript_dir, cat, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert cat.read_committed(spark, "stream_triples").count() == n_before


def test_streamed_graph_deltas_equal_batch_rebuild(
    spark, fixture, spark_fixture, transcript_dir, tmp_path
):
    """with_graph=True: per-micro-batch edge/node delta commits, compacted
    merge-on-read, must equal the one-shot batch graph — the merge algebra
    makes the result independent of micro-batch boundaries."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "catg"))
    incremental.stream_triples(
        spark, pipe, transcript_dir, cat,
        checkpoint_dir=str(tmp_path / "ckptg"), with_graph=True,
    )
    assert len(cat.ledger("edge_deltas")) >= 2  # multiple micro-batches

    edges = {
        (r.subj_entity_id, r.pred, r.obj_entity_id): (r.weight, r.first_ts, r.last_ts)
        for r in KGPipeline.compacted_edges(spark, cat).collect()
    }
    want = {
        (r.subj_entity_id, r.pred, r.obj_entity_id): (r.weight, r.first_ts, r.last_ts)
        for r in pipe.kg_edges(pipe.triples(tdf)).collect()
    }
    assert edges == want

    nodes = {
        r.entity_id: r.n_mentions
        for r in pipe.compacted_nodes(cat).collect()
    }
    want_nodes = {
        r.entity_id: r.n_mentions
        for r in pipe.kg_nodes(pipe.mentions(tdf)).collect()
    }
    assert nodes == want_nodes

    clusters = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.compacted_surface_clusters(cat).collect()
    }
    want_clusters = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.surface_clusters(pipe.mentions(tdf)).collect()
    }
    assert clusters == want_clusters


def test_streamed_generational_compaction(spark, fixture, spark_fixture, tmp_path):
    """Two ingest waves with a compaction between them: wave-1 deltas fold
    into base tables and retire; wave-2 micro-batches open the next delta
    generation; merge-on-read over base ⊕ new deltas equals the one-shot
    batch rebuild over ALL turns."""
    tdf, _ = spark_fixture
    convs = sorted(r.conv_id for r in tdf.select("conv_id").distinct().collect())
    cut = convs[len(convs) // 2]
    wave1 = tdf.filter(F.col("conv_id") < cut)
    wave2 = tdf.filter(F.col("conv_id") >= cut)

    src = str(tmp_path / "gen_src")
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "gen_cat"))
    ckpt = str(tmp_path / "gen_ckpt")

    wave1.repartition(4).write.mode("append").parquet(src)
    incremental.stream_triples(spark, pipe, src, cat, ckpt, with_graph=True)
    gen1 = set(cat.committed_partitions("edge_deltas"))
    assert gen1

    pipe.compact_graph(cat)
    assert cat.committed_partitions("edge_deltas") == set()
    assert cat.retired_partitions("edge_deltas") == gen1

    wave2.repartition(4).write.mode("append").parquet(src)
    # the retired-generation check must not trip on folded batches
    incremental.stream_triples(spark, pipe, src, cat, ckpt, with_graph=True)
    assert cat.committed_partitions("edge_deltas")  # generation 2 is live

    edges = {
        (r.subj_entity_id, r.pred, r.obj_entity_id): (r.weight, r.first_ts, r.last_ts)
        for r in KGPipeline.compacted_edges(spark, cat).collect()
    }
    want = {
        (r.subj_entity_id, r.pred, r.obj_entity_id): (r.weight, r.first_ts, r.last_ts)
        for r in pipe.kg_edges(pipe.triples(tdf)).collect()
    }
    assert edges == want

    nodes = {r.entity_id: r.n_mentions for r in pipe.compacted_nodes(cat).collect()}
    want_nodes = {
        r.entity_id: r.n_mentions for r in pipe.kg_nodes(pipe.mentions(tdf)).collect()
    }
    assert nodes == want_nodes

    clusters = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.compacted_surface_clusters(cat).collect()
    }
    want_clusters = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.surface_clusters(pipe.mentions(tdf)).collect()
    }
    assert clusters == want_clusters


#: Python operators of a physical plan (Spark's node names)
_PYTHON_OPS = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow"
    r"|FlatMap\w*In(?:Pandas|Arrow)|AggregateInPandas|WindowInPandas)\b"
)


def test_surface_clustering_python_operator_and_job_budget(
    spark, fixture, spark_fixture, tmp_path, plan_of, jobs_of
):
    """Canonicalization's executed plan holds three Python operators
    (encode-and-tag, the forest pass, the one-task finish) and no pandas
    operator, both when it clusters materialized mentions in full and
    when a compaction clusters a live surface delta over a base; and the
    compaction's staged write runs no more Spark jobs than the full
    one's on the same turns."""
    from cdrc_semantic_search_spark.sources.catalog import read_parquet

    tdf, _ = spark_fixture
    convs = sorted(r.conv_id for r in tdf.select("conv_id").distinct().collect())
    cut = convs[len(convs) // 2]
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "ops_cat"))
    src, ckpt = str(tmp_path / "ops_src"), str(tmp_path / "ops_ckpt")
    for wave in (tdf.filter(F.col("conv_id") < cut), tdf.filter(F.col("conv_id") >= cut)):
        wave.repartition(4).write.mode("append").parquet(src)
        incremental.stream_triples(spark, pipe, src, cat, ckpt, with_graph=True)
        if not os.path.exists(KGPipeline._gen_marker_path(cat)):
            pipe.compact_graph(cat)
    assert cat.committed_partitions("surface_deltas")  # live over the base
    men = str(tmp_path / "ops_mentions")
    pipe.mentions(tdf).write.parquet(men)
    full_cat = ParquetTableCatalog(str(tmp_path / "ops_full"))
    clusterings = {
        "full": (full_cat, pipe.surface_clusters(read_parquet(spark, men))),
        "compaction": (cat, pipe.compacted_surface_clusters(cat)),
    }
    jobs = {}
    for name, (target, df) in clusterings.items():
        jobs[name], _ = jobs_of(lambda: target.stage({"surface_clusters": df}))
        df.collect()
        final = plan_of(df).split("== Initial Plan ==")[0]
        ops = _PYTHON_OPS.findall(final)
        assert len(ops) == 3 and "MapInPandas" not in ops, (name, final)
    assert 0 < len(jobs["compaction"]) <= len(jobs["full"]), jobs


def test_compaction_canon_param_mismatch_falls_back_to_full(
    spark, fixture, spark_fixture, tmp_path
):
    """The incremental surface-clustering patch is exact only under the
    base generation's clustering parameters (ADVICE r4): compaction
    stamps a fingerprint next to the base, and a later reader with
    DIFFERENT canon settings falls back to the full re-cluster — whose
    output equals a from-scratch clustering under the new settings —
    instead of silently diverging."""
    import dataclasses
    import json
    import os

    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "fp_cat"))
    src = str(tmp_path / "fp_src")
    ckpt = str(tmp_path / "fp_ckpt")
    tdf.repartition(4).write.mode("append").parquet(src)
    incremental.stream_triples(spark, pipe, src, cat, ckpt, with_graph=True)
    pipe.compact_graph(cat)

    # the fingerprint landed and matches the compactor's settings
    params_path = KGPipeline._canon_params_path(cat)
    assert os.path.exists(params_path)
    with open(params_path) as f:
        assert json.load(f) == pipe._canon_fingerprint()

    # a reader with different banding must NOT take the incremental path
    s2 = Settings()
    s2 = dataclasses.replace(
        s2, pipeline=dataclasses.replace(s2.pipeline, canon_n_bands=8)
    )
    pipe2 = KGPipeline(spark, fixture.entities, s2)
    assert pipe2._canon_fingerprint() != pipe._canon_fingerprint()
    got = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe2.compacted_surface_clusters(cat).collect()
    }
    want = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe2.surface_clusters(pipe2.mentions(tdf)).collect()
    }
    assert got == want

    # matching settings still take the incremental path unperturbed
    same = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.compacted_surface_clusters(cat).collect()
    }
    assert same == {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.surface_clusters(pipe.mentions(tdf)).collect()
    }


def test_compacted_surface_clusters_without_live_delta_reads_base(
    spark, fixture, spark_fixture, tmp_path, monkeypatch
):
    """Right after a compaction no surface delta is live: the compacted
    read returns the base table's rows without clustering anything."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "nd_cat"))
    src = str(tmp_path / "nd_src")
    tdf.repartition(4).write.mode("append").parquet(src)
    incremental.stream_triples(
        spark, pipe, src, cat, str(tmp_path / "nd_ckpt"), with_graph=True
    )
    pipe.compact_graph(cat)
    assert cat.committed_partitions("surface_deltas") == set()

    def boom(*_a, **_k):
        raise AssertionError("re-clustered with no live surface delta")

    monkeypatch.setattr(KGPipeline, "_cluster_surfaces", boom)
    got = pipe.compacted_surface_clusters(cat)
    assert got.columns == ["surface", "canonical_surface", "entity_id"]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, cat.read_table(spark, "surface_clusters")
            .select(*got.columns).collect())
    )


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_footer_reads_equal_spark_reads_on_streamed_catalog(
    spark, fixture, spark_fixture, tmp_path
):
    """Streamed ledger partitions and compacted base tables read back
    through the footer schema exactly as plain ``spark.read.parquet``
    reads them, and every ledger row count is Spark's count."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "ft_cat"))
    src = str(tmp_path / "ft_src")
    tdf.repartition(4).write.mode("append").parquet(src)
    incremental.stream_triples(
        spark, pipe, src, cat, str(tmp_path / "ft_ckpt"), with_graph=True
    )
    for name in ("stream_triples",) + KGPipeline.DELTA_TABLES:
        parts = sorted(cat.committed_partitions(name))
        plain = spark.read.parquet(*[cat._partition_path(name, p) for p in parts])
        got = cat.read_committed(spark, name)
        assert got.schema == plain.schema
        assert _rows(got) == _rows(plain)
        for rec in cat.ledger(name):
            part = cat.read_partition(spark, name, rec.partition)
            assert rec.row_count == part.count()
            assert part.schema == plain.schema

    counts = pipe.compact_graph(cat)
    for name in KGPipeline.BASE_TABLES:
        got, plain = cat.read_table(spark, name), spark.read.parquet(cat.table_path(name))
        assert got.schema == plain.schema
        assert _rows(got) == _rows(plain)
        assert counts[name] == plain.count()


def test_failed_compaction_write_leaves_catalog_unchanged(
    spark, fixture, spark_fixture, tmp_path, monkeypatch, jobs_of
):
    """compact_graph stages its three base tables at the same time. When
    one staged write fails, the error reaches the caller before the
    compaction commit point: no record is written, the bases and the
    delta ledger stay as they were, and an unpatched rerun — every job
    of it filed under the caller's job group — equals the one-shot
    rebuild."""
    tdf, _ = spark_fixture
    convs = sorted(r.conv_id for r in tdf.select("conv_id").distinct().collect())
    cut = convs[len(convs) // 2]
    src = str(tmp_path / "fail_src")
    ckpt = str(tmp_path / "fail_ckpt")
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "fail_cat"))
    tdf.filter(F.col("conv_id") < cut).repartition(2).write.mode("append").parquet(src)
    incremental.stream_triples(spark, pipe, src, cat, ckpt, with_graph=True)
    pipe.compact_graph(cat)
    tdf.filter(F.col("conv_id") >= cut).repartition(2).write.mode("append").parquet(src)
    incremental.stream_triples(spark, pipe, src, cat, ckpt, with_graph=True)

    def state():
        return (
            {n: _rows(cat.read_table(spark, n)) for n in KGPipeline.BASE_TABLES},
            {t: (cat.committed_partitions(t), cat.retired_partitions(t))
             for t in KGPipeline.DELTA_TABLES},
        )

    before = state()

    def boom(_):
        raise RuntimeError("staged kg_nodes write failed on purpose")

    def failing_nodes(self, catalog):
        return self.spark.range(3).select(F.udf(boom, "long")("id").alias("n"))

    with monkeypatch.context() as m:
        m.setattr(KGPipeline, "compacted_nodes", failing_nodes)
        with pytest.raises(Exception, match="staged kg_nodes write failed on purpose"):
            pipe.compact_graph(cat)
    assert not os.path.exists(cat.record_path)
    assert state() == before

    in_group, started = jobs_of(lambda: pipe.compact_graph(cat))
    assert in_group and in_group == started
    nodes = ["entity_id", "n_mentions"]
    assert _rows(KGPipeline.compacted_edges(spark, cat)) == _rows(
        pipe.kg_edges(pipe.triples(tdf))
    )
    assert _rows(pipe.compacted_nodes(cat).select(*nodes)) == _rows(
        pipe.kg_nodes(pipe.mentions(tdf)).select(*nodes)
    )
    assert _rows(pipe.compacted_surface_clusters(cat)) == _rows(
        pipe.surface_clusters(pipe.mentions(tdf))
    )


def test_session_window_streaming_matches_batch(spark, spark_fixture, transcript_dir, tmp_path):
    """F.session_window under readStream + watermark: sessions sealed by
    the watermark match the batch session_window aggregation exactly."""
    stream = incremental.transcript_stream(spark, transcript_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("conv_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            "n_turns",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from sess_stream")
    batch = (
        spark.read.parquet(transcript_dir)
        .groupBy("conv_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            "n_turns",
        )
    )
    got_set = {tuple(r) for r in got.collect()}
    want_set = {tuple(r) for r in batch.collect()}
    # append mode emits only watermark-sealed sessions — a subset of batch,
    # but every emitted session must match the batch result exactly
    assert got_set and got_set <= want_set


def test_stream_pq_upsert_equals_batch_rebuild(spark, tmp_path):
    """Two streamed embedding waves over a batch-built base: the
    merge-on-read compacted codes equal a one-shot encode of the final
    vector state (stream upserts replace the base's stale codes), and a
    second identical run is an idempotent no-op."""
    import numpy as np
    import pandas as pd

    from cdrc_semantic_search_spark.operators.similarity import (
        materialize_pq_index,
        pq_encode,
        train_pq_codebooks,
    )
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog
    from cdrc_semantic_search_spark.streaming.incremental import (
        compacted_pq_codes,
        stream_pq_upsert,
    )

    rng = np.random.default_rng(17)
    base_pts = rng.standard_normal((30, 16)).astype(np.float32)
    books = train_pq_codebooks(base_pts, m=4, k=8, seed=5)
    base = spark.createDataFrame(
        pd.DataFrame(
            {"c_id": range(30), "c_vec": [list(map(float, v)) for v in base_pts]}
        )
    )
    catalog = ParquetTableCatalog(str(tmp_path / "cat"))
    materialize_pq_index(spark, catalog, base, books)

    # wave 1: new ids 30..39; wave 2: REPLACES ids 0..4 with new vectors
    w1 = rng.standard_normal((10, 16)).astype(np.float32)
    w2 = rng.standard_normal((5, 16)).astype(np.float32)
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    pd.DataFrame(
        {"vec_id": range(30, 40), "embedding": [list(map(float, v)) for v in w1]}
    ).to_parquet(stream_dir / "wave1.parquet")
    stream_pq_upsert(
        spark, str(stream_dir), catalog, str(tmp_path / "ckpt")
    )
    pd.DataFrame(
        {"vec_id": range(5), "embedding": [list(map(float, v)) for v in w2]}
    ).to_parquet(stream_dir / "wave2.parquet")
    stream_pq_upsert(
        spark, str(stream_dir), catalog, str(tmp_path / "ckpt")
    )

    final_vecs = np.vstack([w2, base_pts[5:], w1])
    final_ids = list(range(5)) + list(range(5, 30)) + list(range(30, 40))
    final = spark.createDataFrame(
        pd.DataFrame(
            {"c_id": final_ids, "c_vec": [list(map(float, v)) for v in final_vecs]}
        )
    )
    want = pq_encode(spark, final, "c_id", "c_vec", books).toPandas()
    got = compacted_pq_codes(spark, catalog).toPandas()
    key = lambda d: sorted((r.c_id, tuple(r.codes)) for r in d.itertuples())
    assert key(got) == key(want)

    # idempotent redelivery: nothing new to process
    stream_pq_upsert(spark, str(stream_dir), catalog, str(tmp_path / "ckpt"))
    again = compacted_pq_codes(spark, catalog).toPandas()
    assert key(again) == key(want)


def test_pq_rebuild_retires_stale_code_deltas(spark, tmp_path):
    """An index rebuild (new codebooks) must retire the streamed delta
    generation: old deltas were encoded under the previous codebooks and
    would otherwise override the fresh base on merge-on-read. Also:
    compacted view works for a purely batch-built index (no deltas)."""
    import numpy as np
    import pandas as pd

    from cdrc_semantic_search_spark.operators.similarity import (
        materialize_pq_index,
        pq_encode,
        train_pq_codebooks,
    )
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog
    from cdrc_semantic_search_spark.streaming.incremental import (
        compacted_pq_codes,
        stream_pq_upsert,
    )

    rng = np.random.default_rng(19)
    pts = rng.standard_normal((20, 16)).astype(np.float32)
    books1 = train_pq_codebooks(pts, m=4, k=8, seed=1)
    c = spark.createDataFrame(
        pd.DataFrame({"c_id": range(20), "c_vec": [list(map(float, v)) for v in pts]})
    )
    catalog = ParquetTableCatalog(str(tmp_path / "cat"))
    materialize_pq_index(spark, catalog, c, books1)

    # batch-only index: compacted view = the base, no FileNotFoundError
    base_only = compacted_pq_codes(spark, catalog).toPandas()
    assert len(base_only) == 20

    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    pd.DataFrame(
        {"vec_id": [0], "embedding": [list(map(float, -pts[0]))]}
    ).to_parquet(stream_dir / "w.parquet")
    stream_pq_upsert(spark, str(stream_dir), catalog, str(tmp_path / "ck"))
    assert catalog.committed_partitions("pq_index_code_deltas")

    # rebuild under DIFFERENT codebooks: deltas must vanish
    books2 = train_pq_codebooks(pts, m=4, k=8, seed=2)
    materialize_pq_index(spark, catalog, c, books2)
    got = compacted_pq_codes(spark, catalog).toPandas()
    want = pq_encode(spark, c, "c_id", "c_vec", books2).toPandas()
    key = lambda d: sorted((r.c_id, tuple(r.codes)) for r in d.itertuples())
    assert key(got) == key(want)  # no stale-delta override


def test_batch_upsert_folds_streamed_deltas(spark, tmp_path):
    """Batch/stream index-maintenance coherence under one prefix:
    (a) after a stream ran, topk_pq_adc_index reads the merge-on-read
    view (streamed updates visible to queries);
    (b) a batch upsert_pq_index FOLDS the committed code-deltas into the
    new base and retires the delta generation — without the fold the
    stale delta for an id the batch just updated would shadow it;
    (c) duplicate ids within one micro-batch resolve to a deterministic
    winner (lexicographically smallest codes)."""
    import numpy as np
    import pandas as pd

    from cdrc_semantic_search_spark.operators.similarity import (
        materialize_pq_index,
        pq_encode,
        topk_pq_adc,
        topk_pq_adc_index,
        train_pq_codebooks,
        upsert_pq_index,
    )
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog
    from cdrc_semantic_search_spark.streaming.incremental import (
        compacted_pq_codes,
        stream_pq_upsert,
    )

    rng = np.random.default_rng(23)
    pts = rng.standard_normal((20, 16)).astype(np.float32)
    books = train_pq_codebooks(pts, m=4, k=8, seed=3)
    mk = lambda ids, vecs: spark.createDataFrame(
        pd.DataFrame({"c_id": ids, "c_vec": [list(map(float, v)) for v in vecs]})
    )
    catalog = ParquetTableCatalog(str(tmp_path / "cat"))
    materialize_pq_index(spark, catalog, mk(range(20), pts), books)

    # stream: replace id 0, add id 20 TWICE in one batch (dup in-batch)
    v0_new = rng.standard_normal(16).astype(np.float32)
    v20_a = rng.standard_normal(16).astype(np.float32)
    v20_b = rng.standard_normal(16).astype(np.float32)
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    pd.DataFrame(
        {
            "vec_id": [0, 20, 20],
            "embedding": [list(map(float, v)) for v in (v0_new, v20_a, v20_b)],
        }
    ).to_parquet(stream_dir / "w.parquet")
    stream_pq_upsert(spark, str(stream_dir), catalog, str(tmp_path / "ck"))

    # (c) deterministic in-batch winner: smallest codes tuple
    cand = pq_encode(spark, mk([20, 20], [v20_a, v20_b]), "c_id", "c_vec", books)
    win20 = min(tuple(r.codes) for r in cand.collect())
    delta = catalog.read_committed(spark, "pq_index_code_deltas").toPandas()
    assert sorted(delta.c_id) == [0, 20]
    assert tuple(delta[delta.c_id == 20].codes.iloc[0]) == win20
    v20 = v20_a if tuple(
        pq_encode(spark, mk([20], [v20_a]), "c_id", "c_vec", books)
        .collect()[0].codes
    ) == win20 else v20_b

    # (a) the index query path sees the streamed state
    after_stream = np.vstack([v0_new, pts[1:], v20])
    ids_after = list(range(21))
    q = mk([100], [rng.standard_normal(16).astype(np.float32)]).selectExpr(
        "c_id as q_id", "c_vec as q_vec"
    )
    want = topk_pq_adc(
        spark, q, mk(ids_after, after_stream), books, k=5
    ).toPandas()
    got = topk_pq_adc_index(spark, q, catalog, k=5).toPandas()
    pair = lambda d: [tuple(r) for r in d.sort_values("rank")[["c_id", "rank"]].itertuples(index=False)]
    assert pair(got) == pair(want)

    # (b) batch upsert replaces id 0 AGAIN and adds id 21: deltas fold
    v0_batch = rng.standard_normal(16).astype(np.float32)
    v21 = rng.standard_normal(16).astype(np.float32)
    upsert_pq_index(spark, catalog, mk([0, 21], [v0_batch, v21]))
    assert not catalog.committed_partitions("pq_index_code_deltas")
    assert catalog.retired_partitions("pq_index_code_deltas")
    final = np.vstack([v0_batch, pts[1:], v20, v21])
    want_codes = pq_encode(
        spark, mk(range(22), final), "c_id", "c_vec", books
    ).toPandas()
    got_codes = compacted_pq_codes(spark, catalog).toPandas()
    key = lambda d: sorted((r.c_id, tuple(r.codes)) for r in d.itertuples())
    assert key(got_codes) == key(want_codes)
    # and the index query path agrees with the raw-corpus scan
    want2 = topk_pq_adc(spark, q, mk(range(22), final), books, k=5).toPandas()
    got2 = topk_pq_adc_index(spark, q, catalog, k=5).toPandas()
    assert pair(got2) == pair(want2)
