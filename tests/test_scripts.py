"""The bench scripts under ``scripts/``: every one imports, the shared
stage reader works with the Spark UI off, and the BENCH.md splice leaves
the sections it does not own untouched."""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


@pytest.fixture
def scripts_on_path(monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)


@pytest.mark.parametrize(
    "name", sorted(f for f in os.listdir(SCRIPTS) if f.endswith(".py"))
)
def test_script_imports(name, scripts_on_path):
    spec = importlib.util.spec_from_file_location(
        f"script_{name[:-3]}", os.path.join(SCRIPTS, name)
    )
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_stages_reads_shuffle_and_task_metrics_with_ui_off(spark, scripts_on_path):
    from _harness import stages

    assert spark.sparkContext.uiWebUrl is None
    seen: set = set()
    stages(spark, seen)
    spark.range(10_000, numPartitions=4).groupBy(
        (F.col("id") % 7).alias("k")
    ).count().collect()
    new = stages(spark, seen)
    (shuffle_map,) = [s for s in new if s["shuffle_write_bytes"] > 0]
    assert shuffle_map["tasks"] == 4
    assert shuffle_map["shuffle_write_records"] > 0
    assert 0 <= shuffle_map["task_ms_median"] <= shuffle_map["task_ms_max"]
    assert shuffle_map["task_read_rec_max"] == 0
    reduce_ = [s for s in new if s["shuffle_read_records"] > 0]
    assert sum(s["shuffle_read_records"] for s in reduce_) == (
        shuffle_map["shuffle_write_records"]
    )
    assert max(s["task_read_rec_max"] for s in reduce_) > 0
    assert stages(spark, seen) == []


def test_replace_section_leaves_other_sections_byte_identical(tmp_path, scripts_on_path):
    from _harness import replace_section

    a = "## A first\n\nalpha | 1 |\n\n"
    b = "## B second\n\nbeta, old\n\n"
    c = "## C third\n\ngamma\nno blank line at the end\n"
    path = tmp_path / "BENCH.md"
    path.write_text("# BENCH\n\nintro\n\n" + a + b + c)

    replace_section("## B second", "\n## B second\n\nbeta, new\n", str(path))

    text = path.read_text()
    assert text.startswith("# BENCH\n\nintro\n\n" + a)
    assert c in text
    assert "beta, old" not in text
    assert text.count("## B second") == 1
    assert text.endswith("## B second\n\nbeta, new\n")
