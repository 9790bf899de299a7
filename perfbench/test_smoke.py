"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that a run prints every metric BENCHMARK.json names, with its
unit, in both modes and on both workloads, and that a corrupted output
(one triple dropped) is caught: the run reports a failed operation and
exits non-zero.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import workloads  # noqa: E402
from inputs import Shape  # noqa: E402

TINY = {
    "kg_build": Shape(pool=40, entities=60, perturb_rate=0.0, turns=500, files=2,
                      warm_turns=100),
    "kg_stream": Shape(pool=40, entities=60, perturb_rate=0.04, turns=200, files=2,
                       history_turns=500, history_files=2, warm_turns=100),
}


@pytest.fixture(autouse=True)
def tiny_inputs(monkeypatch):
    for name, shape in TINY.items():
        monkeypatch.setitem(
            workloads.WORKLOADS, name,
            dataclasses.replace(workloads.WORKLOADS[name], shape=shape),
        )


def _run(capsys, workload: str, trace: int) -> tuple[int, dict]:
    code = run.main(["--workload", workload, "--seed", "5", "--seconds", "0",
                     "--trace", str(trace)])
    last = capsys.readouterr().out.strip().splitlines()[-1]
    return code, json.loads(last)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_metric_is_printed_with_its_unit(capsys, workload):
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        code, result = _run(capsys, workload, trace)
        assert code == 0
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        printed = {name: m["unit"] for name, m in result["metrics"].items()}
        assert printed == _declared(kind)
        assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())


def test_a_dropped_triple_is_an_error(capsys, monkeypatch):
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    triples = KGPipeline.triples

    def one_short(self, transcripts, *args, **kwargs):
        df = triples(self, transcripts, *args, **kwargs)
        return df.exceptAll(df.limit(1))

    monkeypatch.setattr(KGPipeline, "triples", one_short)
    code, result = _run(capsys, "kg_build", 0)
    assert code == 1
    assert not result["correct"]
    assert result["failed"] / result["attempted"] > 0
