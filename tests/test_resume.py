"""Idempotency / resume / determinism tests (SURVEY §5.4-5.5)."""

from __future__ import annotations

import json
import os
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

import cdrc_semantic_search_spark
from cdrc_semantic_search_spark.config import PipelineSettings, Settings
from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

KEY = ["conv_id", "turn_idx", "subj_entity_id", "pred", "obj_entity_id"]


def _settings(buckets: int = 4) -> Settings:
    return Settings(pipeline=PipelineSettings(num_buckets=buckets))


def test_resume_after_partial_run(spark, fixture, spark_fixture, tmp_path):
    """Simulate a crash after 2 of 4 partitions; resume must finish the
    remaining 2 without touching or duplicating the committed ones."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, _settings(4))
    cat = ParquetTableCatalog(str(tmp_path / "cat"))

    nb = 4
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(nb)).cast("int")
    with_bucket = tdf.withColumn("__b", bucket)
    # "crashed" run: commit only buckets 0 and 1
    for part in ["0", "1"]:
        sub = with_bucket.filter(F.col("__b") == int(part)).drop("__b")
        cat.overwrite_partition(pipe.triples(sub), "triples", part, metrics={})
    committed_before = {
        p: r.committed_at for p, r in zip(sorted(cat.committed_partitions("triples")), cat.ledger("triples"))
    }

    ran = pipe.run_partitioned(tdf, cat, resume=True)
    assert sorted(ran) == ["2", "3"]
    # observation lineage landed in the resumed partitions' ledger entries
    for rec in cat.ledger("triples"):
        if rec.partition in ("2", "3"):
            assert rec.metrics["triple_count"] == rec.row_count
            assert "turn_count" in rec.metrics
            if rec.row_count:
                assert 0.0 <= rec.metrics["min_link_score"] <= 1.0
                assert rec.metrics["min_link_score"] <= rec.metrics["avg_link_score"]
    # earlier commits untouched
    for rec in cat.ledger("triples"):
        if rec.partition in committed_before:
            assert rec.committed_at == committed_before[rec.partition]

    # full result == single-shot batch result, no dupes
    got = cat.read_committed(spark, "triples").select(*KEY)
    want = pipe.triples(tdf).select(*KEY)
    assert got.count() == got.distinct().count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_rerun_overwrite_not_append(spark, fixture, spark_fixture, tmp_path):
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, _settings(2))
    cat = ParquetTableCatalog(str(tmp_path / "cat2"))
    pipe.run_partitioned(tdf, cat, resume=False)
    n1 = cat.read_committed(spark, "triples").count()
    pipe.run_partitioned(tdf, cat, resume=False)  # forced full re-run
    assert cat.read_committed(spark, "triples").count() == n1


def test_graph_deltas_resume_no_double_count(spark, fixture, spark_fixture, tmp_path):
    """with_graph=True commits per-bucket edge/node deltas; a crash AFTER
    the triples commit but BEFORE the delta commits must resume that
    bucket's deltas only, and the merge-on-read graph must equal the full
    rebuild (no double counting on re-run)."""
    import os

    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, _settings(4))
    cat = ParquetTableCatalog(str(tmp_path / "catg"))
    pipe.run_partitioned(tdf, cat, with_graph=True)

    assert cat.committed_partitions("edge_deltas") == {"0", "1", "2", "3"}
    assert cat.committed_partitions("node_deltas") == {"0", "1", "2", "3"}

    # simulate a crash that lost bucket 1's delta commits (triples intact)
    os.remove(cat._marker_path("edge_deltas", "1"))
    os.remove(cat._marker_path("node_deltas", "1"))
    os.remove(cat._marker_path("surface_deltas", "1"))
    ran = pipe.run_partitioned(tdf, cat, with_graph=True)
    assert ran == ["1"]  # only the torn bucket, only its missing tables

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
        r.entity_id: (r.canonical_name, r.entity_type, r.n_mentions)
        for r in pipe.compacted_nodes(cat).collect()
    }
    want_nodes = {
        r.entity_id: (r.canonical_name, r.entity_type, r.n_mentions)
        for r in pipe.kg_nodes(pipe.mentions(tdf)).collect()
    }
    assert nodes == want_nodes

    # canonicalization over the ledgered surface deltas ≡ full batch
    clusters = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.compacted_surface_clusters(cat).collect()
    }
    want_clusters = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.surface_clusters(pipe.mentions(tdf)).collect()
    }
    assert clusters == want_clusters

    # generational compaction: deltas fold into base tables and retire
    counts = pipe.compact_graph(cat)
    assert counts["kg_edges"] == len(edges)
    assert counts["kg_nodes"] == len(nodes)
    assert counts["surface_clusters"] == len(clusters)
    for t in KGPipeline.DELTA_TABLES:
        assert cat.committed_partitions(t) == set()
        assert cat.retired_partitions(t) == {"0", "1", "2", "3"}

    # resume after retirement must NOT re-run folded buckets (that would
    # double-count on read)
    assert pipe.run_partitioned(tdf, cat, with_graph=True) == []

    # merge-on-read now serves from the base alone and still equals the
    # full rebuild
    edges_after = {
        (r.subj_entity_id, r.pred, r.obj_entity_id): (r.weight, r.first_ts, r.last_ts)
        for r in KGPipeline.compacted_edges(spark, cat).collect()
    }
    assert edges_after == want
    nodes_after = {
        r.entity_id: (r.canonical_name, r.entity_type, r.n_mentions)
        for r in pipe.compacted_nodes(cat).collect()
    }
    assert nodes_after == want_nodes


def test_graph_deltas_stale_snapshot_recommits_triples(
    spark, fixture, spark_fixture, tmp_path
):
    """If a torn bucket's triples were committed under an OLDER source
    snapshot, resuming its deltas under a new snapshot must recommit the
    triples first — otherwise edge deltas (read back from old bytes) and
    node deltas (re-extracted from new transcripts) would disagree."""
    import os

    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, _settings(4))
    cat = ParquetTableCatalog(str(tmp_path / "cats"))
    pipe.run_partitioned(tdf, cat, source_snapshot="v1", with_graph=True)

    os.remove(cat._marker_path("edge_deltas", "2"))
    ran = pipe.run_partitioned(tdf, cat, source_snapshot="v2", with_graph=True)
    assert ran == ["2"]
    recs = {r.partition: r for r in cat.ledger("triples")}
    assert recs["2"].source_snapshot == "v2"  # recommitted for lineage
    assert recs["0"].source_snapshot == "v1"  # consistent buckets untouched
    # the stale bucket's SURVIVING deltas recommit too — keeping the old
    # node/surface deltas would mix source versions within bucket 2
    for t in ("edge_deltas", "node_deltas", "surface_deltas"):
        drecs = {r.partition: r for r in cat.ledger(t)}
        assert drecs["2"].source_snapshot == "v2", t
        assert drecs["0"].source_snapshot == "v1", t


def test_triples_deterministic_under_repartition(spark, fixture, spark_fixture):
    """Same triple set regardless of physical partitioning (partition-order
    independence — the determinism half of SURVEY §5.5)."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    a = pipe.triples(tdf.repartition(2)).select(*KEY)
    b = pipe.triples(tdf.repartition(16, "conv_id")).select(*KEY)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_retired_partition_recommit_refused(spark, tmp_path):
    """Re-committing a retired partition would double-count on
    merge-on-read (the retired data lives in a base table) — refused."""
    import pytest

    cat = ParquetTableCatalog(str(tmp_path / "cr"))
    df = spark.range(3)
    cat.overwrite_partition(df, "edge_deltas", "0")
    cat.retire_partitions("edge_deltas", ["0"])
    with pytest.raises(ValueError, match="retired"):
        cat.overwrite_partition(df, "edge_deltas", "0")


def test_full_rebuild_table_not_mistaken_for_base(spark, tmp_path):
    """A kg_edges table written by materialize()/create_or_replace is a
    FULL rebuild covering the same data as the deltas — without the
    generation marker compact_graph maintains, compacted_edges must
    ignore it (merging would double every weight)."""
    from datetime import datetime

    cat = ParquetTableCatalog(str(tmp_path / "cb"))
    edge = spark.createDataFrame(
        [("E1", "p", "E2", 5, datetime(2026, 1, 1), datetime(2026, 1, 2))],
        "subj_entity_id string, pred string, obj_entity_id string, "
        "weight long, first_ts timestamp, last_ts timestamp",
    )
    cat.create_or_replace(edge, "kg_edges")  # materialize-style full table
    cat.overwrite_partition(edge, "edge_deltas", "0")
    rows = KGPipeline.compacted_edges(spark, cat).collect()
    assert len(rows) == 1 and rows[0].weight == 5  # 5, not 10


def test_time_travel_read_as_of(spark, tmp_path):
    """Snapshot time travel from the commit ledger: read_as_of(ts) sees
    exactly the partitions committed by ts; asking for a snapshot whose
    bytes were since overwritten or retired RAISES instead of silently
    serving current data (this catalog is merge-on-write; Iceberg would
    retain the old files)."""
    import time as _time

    import pytest as _pytest

    from cdrc_semantic_search_spark.sources.catalog import (
        SnapshotUnavailableError,
    )

    cat = ParquetTableCatalog(str(tmp_path / "tt"))
    df1 = spark.range(10).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(10, 30).selectExpr("id", "id * 2 AS v")
    df3 = spark.range(30, 35).selectExpr("id", "id * 3 AS v")

    cat.overwrite_partition(df1, "t", "p0")
    cat.overwrite_partition(df2, "t", "p1")
    t_mid = _time.time()
    _time.sleep(0.01)
    cat.overwrite_partition(df3, "t", "p2")

    assert cat.snapshot_partitions("t", t_mid) == {"p0", "p1"}
    assert cat.read_as_of(spark, "t", t_mid).count() == 30
    assert cat.snapshot_partitions("t", _time.time()) == {"p0", "p1", "p2"}
    assert cat.read_as_of(spark, "t", _time.time()).count() == 35

    # before anything was committed: empty snapshot -> FileNotFoundError
    with _pytest.raises(FileNotFoundError):
        cat.read_as_of(spark, "t", 0.0)

    # overwriting p0 reclaims the as-of-t_mid bytes: the old snapshot
    # must become unavailable, the current read unaffected
    _time.sleep(0.01)
    cat.overwrite_partition(df1.limit(3), "t", "p0")
    with _pytest.raises(SnapshotUnavailableError, match="p0 .overwritten."):
        cat.snapshot_partitions("t", t_mid)
    assert cat.read_as_of(spark, "t", _time.time()).count() == 28

    # retiring p1 breaks every snapshot that CONTAINED it — but not
    # snapshots taken after the compaction, which never did
    t_before_retire = _time.time()
    _time.sleep(0.01)
    cat.retire_partitions("t", ["p1"])
    with _pytest.raises(SnapshotUnavailableError, match="p1 .retired"):
        cat.read_as_of(spark, "t", t_before_retire)
    # post-compaction snapshot: p0-rewritten (3) + p2 (5), fully live
    assert cat.snapshot_partitions("t", _time.time()) == {"p0", "p2"}
    assert cat.read_as_of(spark, "t", _time.time()).count() == 8


def test_retirement_generations_all_survive(spark, tmp_path):
    """Retired-record filenames are stamped with the record's commit time,
    so a retire → re-commit → retire sequence on the SAME partition name
    keeps every retirement generation (ADVICE r4): the earlier record is
    not overwritten, and every snapshot that contained either generation
    raises instead of silently serving a partial table.
    overwrite_partition refuses re-commit of retired names, so the
    second generation is planted the way an external writer would — a
    marker file in the ledger dir."""
    import json as _json
    import os as _os
    import time as _time

    import pytest as _pytest

    from cdrc_semantic_search_spark.sources.catalog import (
        SnapshotUnavailableError,
    )

    cat = ParquetTableCatalog(str(tmp_path / "gen"))
    cat.overwrite_partition(spark.range(5).selectExpr("id"), "t", "p0")
    t_gen1 = _time.time()
    _time.sleep(0.01)
    cat.retire_partitions("t", ["p0"])

    # external writer re-commits the same partition name
    _time.sleep(0.01)
    path = cat._partition_path("t", "p0")
    spark.range(7).selectExpr("id").write.mode("overwrite").parquet(path)
    marker = cat._marker_path("t", "p0")
    _os.makedirs(_os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as f:
        _json.dump(
            {
                "table": "t", "partition": "p0", "source_snapshot": "ext",
                "row_count": 7, "metrics": {}, "committed_at": _time.time(),
                "status": "committed",
            },
            f,
        )
    t_gen2 = _time.time()
    _time.sleep(0.01)
    cat.retire_partitions("t", ["p0"])

    # BOTH retirement generations survive as distinct records
    recs = [r for r, _ in cat._retired_records("t") if r.partition == "p0"]
    assert len(recs) == 2, "second retirement must not overwrite the first"
    assert cat.retired_partitions("t") == {"p0"}
    # both snapshots that contained a generation raise — neither is
    # silently served without its partition
    for ts in (t_gen1, t_gen2):
        with _pytest.raises(SnapshotUnavailableError, match="p0 .retired"):
            cat.snapshot_partitions("t", ts)


def test_malformed_retirement_marker_degrades_not_blocks(spark, tmp_path):
    """Retirement markers are parsed on EVERY overwrite_partition (the
    retired-check) — a single schema-divergent or corrupt marker left by
    another writer version must degrade to a warning, not permanently
    block all ingestion for the table; markers with extra/missing
    optional fields still parse."""
    import json as _json
    import os as _os

    cat = ParquetTableCatalog(str(tmp_path / "tol"))
    cat.overwrite_partition(spark.range(3).selectExpr("id"), "t", "p0")
    cat.retire_partitions("t", ["p0"])
    rd = cat._retired_dir("t")
    # a marker from a NEWER writer: extra field, missing optional ones
    with open(_os.path.join(rd, "p1.123.json"), "w") as f:
        _json.dump(
            {"table": "t", "partition": "p1", "committed_at": 1.0,
             "future_field": {"x": 1}},
            f,
        )
    # an outright corrupt marker
    with open(_os.path.join(rd, "p2.456.json"), "w") as f:
        f.write("{not json")
    # the divergent-but-identifiable marker counts; the corrupt one is
    # skipped with a warning; commits to OTHER partitions still work
    assert cat.retired_partitions("t") == {"p0", "p1"}
    rec = cat.overwrite_partition(spark.range(2).selectExpr("id"), "t", "p9")
    assert rec.row_count == 2


def test_interrupted_staging_swap_rolls_back_at_open(
    spark, tmp_path, crash_after_commit_record
):
    """Recovery at catalog open, one crash window each: (a) a crash
    mid-swap (live table removed, staged copy not yet renamed in) rolls
    the commit forward to the new table; (b) a crash after the swap but
    before the replaced table's ledger was dropped rolls forward to no
    stale ledger; (c) a staged copy no record names (a crash before the
    commit record) is dropped, and the live table is untouched."""
    root = str(tmp_path / "swapcat")
    cat = ParquetTableCatalog(root)
    live, staged = cat.table_path("t"), cat.table_path("t") + ".staging"
    cat.create_or_replace(spark.range(5).selectExpr("id"), "t")

    def stale_marker():
        os.makedirs(cat._ledger_dir("t"), exist_ok=True)
        with open(cat._marker_path("t", "stale"), "w") as f:
            json.dump(
                {"table": "t", "partition": "stale", "source_snapshot": "s",
                 "row_count": 1, "metrics": {}, "committed_at": 1.0,
                 "status": "committed"},
                f,
            )

    def pending_replace(n):
        with crash_after_commit_record():
            with pytest.raises(RuntimeError, match="crashed after the commit record"):
                cat.create_or_replace(spark.range(n).selectExpr("id"), "t")
        assert os.path.exists(cat.record_path)

    def recovered(rows):
        reopened = ParquetTableCatalog(root)
        assert not os.path.exists(reopened.record_path)
        assert not os.path.exists(staged)
        assert reopened.committed_partitions("t") == set()
        assert reopened.read_table(spark, "t").count() == rows

    # (a) mid-swap crash: the live table is gone, the staged copy not in
    stale_marker()
    pending_replace(9)
    shutil.rmtree(live)
    recovered(9)

    # (b) post-swap crash: new table live, stale ledger left behind
    pending_replace(7)
    shutil.rmtree(live)
    shutil.move(staged, live)
    stale_marker()
    recovered(7)

    # (c) orphaned staged copy from a crashed write, no record
    spark.range(3).selectExpr("id").write.parquet(staged)
    recovered(7)

    # and a normal replace still round-trips
    cat.create_or_replace(spark.range(4).selectExpr("id"), "t")
    assert cat.read_table(spark, "t").count() == 4
    assert not os.path.exists(cat.record_path)


def _tree(root: str) -> dict:
    """Every file under ``root``: JSON files by content, others by size."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            if f.endswith(".json"):
                with open(path) as fh:
                    out[os.path.relpath(path, root)] = json.load(fh)
            else:
                out[os.path.relpath(path, root)] = os.path.getsize(path)
    return out


def test_compaction_roll_forward_is_idempotent(
    spark, fixture, spark_fixture, tmp_path, crash_after_commit_record
):
    """A compaction's commit record fixes the next generation number and
    the clustering fingerprint, so rolling the same record forward twice
    leaves the same catalog: tables, ledgers and every marker file.
    Compacted reads raise while the record is pending."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, _settings(2))
    cat = ParquetTableCatalog(str(tmp_path / "idem"))
    pipe.run_partitioned(tdf, cat, with_graph=True)
    with crash_after_commit_record():
        with pytest.raises(RuntimeError, match="crashed after the commit record"):
            pipe.compact_graph(cat)
    with pytest.raises(RuntimeError, match="commit is pending"):
        KGPipeline.compacted_edges(spark, cat)

    with open(cat.record_path) as f:
        record = f.read()
    cat.roll_forward()
    once = _tree(cat.root)
    with open(cat.record_path, "w") as f:
        f.write(record)
    cat.roll_forward()
    assert _tree(cat.root) == once

    with open(KGPipeline._gen_marker_path(cat)) as f:
        assert json.load(f) == {"generation": 1}
    with open(KGPipeline._canon_params_path(cat)) as f:
        assert json.load(f) == pipe._canon_fingerprint()
    for t in KGPipeline.DELTA_TABLES:
        assert cat.committed_partitions(t) == set()
        assert cat.retired_partitions(t) == {"0", "1"}
    key = ["subj_entity_id", "pred", "obj_entity_id", "weight"]
    got = KGPipeline.compacted_edges(spark, cat).select(*key)
    want = pipe.kg_edges(pipe.triples(tdf)).select(*key)
    assert sorted(got.collect()) == sorted(want.collect())


def test_pq_upsert_crash_after_commit_record_rolls_forward_at_open(
    spark, tmp_path, crash_after_commit_record
):
    """upsert_pq_index over streamed code deltas commits the new codes and
    the retirement of the folded deltas in one record. A crash right
    after the record leaves both undone; the next catalog open rolls
    forward to what an uninterrupted upsert leaves, retired partitions
    included."""
    import numpy as np
    import pandas as pd

    from cdrc_semantic_search_spark.operators.similarity import (
        materialize_pq_index,
        train_pq_codebooks,
        upsert_pq_index,
    )
    from cdrc_semantic_search_spark.streaming.incremental import stream_pq_upsert

    rng = np.random.default_rng(29)
    pts = rng.standard_normal((24, 16)).astype(np.float32)
    books = train_pq_codebooks(pts[:20], m=4, k=8, seed=5)

    def vectors(ids):
        return spark.createDataFrame(
            pd.DataFrame({"c_id": ids, "c_vec": [list(map(float, pts[i])) for i in ids]})
        )

    root, ref_root = str(tmp_path / "pq"), str(tmp_path / "pq_ref")
    cat = ParquetTableCatalog(root)
    materialize_pq_index(spark, cat, vectors(range(20)), books)
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    pd.DataFrame(
        {"vec_id": [0, 20], "embedding": [list(map(float, pts[i])) for i in (21, 22)]}
    ).to_parquet(stream_dir / "w.parquet")
    stream_pq_upsert(spark, str(stream_dir), cat, str(tmp_path / "ck"))
    deltas = "pq_index_code_deltas"
    streamed = cat.committed_partitions(deltas)
    assert streamed
    shutil.copytree(root, ref_root)

    updates = vectors([1, 20, 23])
    with crash_after_commit_record():
        with pytest.raises(RuntimeError, match="crashed after the commit record"):
            upsert_pq_index(spark, cat, updates)
    assert os.path.exists(cat.record_path)
    assert cat.committed_partitions(deltas) == streamed

    ref = ParquetTableCatalog(ref_root)
    upsert_pq_index(spark, ref, updates)
    reopened = ParquetTableCatalog(root)
    assert not os.path.exists(reopened.record_path)
    for c in (reopened, ref):
        assert c.committed_partitions(deltas) == set()
        assert c.retired_partitions(deltas) == streamed

    def codes(c):
        return sorted(
            (r.c_id, tuple(r.codes)) for r in c.read_table(spark, "pq_index_codes").collect()
        )

    assert codes(reopened) == codes(ref)
    assert len(codes(ref)) == 22


def test_replace_protocol_has_one_home():
    """Table renames, staged copies and the commit record belong to the
    catalog alone: a second replace path elsewhere in the package would
    escape its recovery at open."""
    pkg = pathlib.Path(cdrc_semantic_search_spark.__file__).parent
    marks = ("os.rename", ".staging", "_commit.json")
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        hits = [m for m in marks if m in path.read_text()]
        if hits:
            found[path.relative_to(pkg).as_posix()] = hits
    assert found == {"sources/catalog.py": list(marks)}
