"""Seeded benchmark inputs and their expected outputs, cached on disk.

Each workload draws its input from a fixed pool of conversations: one
``fixtures.generate`` corpus (per-conversation RNG streams, the same rows
``fixtures.generate_spark`` makes) with one entity catalogue. ``--seed``
picks which pool conversations form the input, in a seeded order, until
the input holds exactly the workload's number of turns; the last
conversation picked is cut short to fit. So every seed gives the program
different transcripts of the same size over the same catalogue, and the
work per run, which is mostly fixed costs per Spark job, does not swing
with the seed. The conversations that follow in the same order make the
run's warm-up input, which shares no conversation with the input.

``kg_stream`` also has a history: a fixed slice of the pool, the same for
every seed, that the program builds into a compacted graph once per
checkout (see ``workloads.prepare_base``); the seeded input is the wave
that lands on top of it.

The expected outputs come from ``oracle``'s pure-Python extraction and
linking over history and input together. Pools and inputs are cached
under ``<state>``; all of this runs before any timing starts.
"""

from __future__ import annotations

import os
import pickle
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from cdrc_semantic_search_spark import fixtures, oracle
from cdrc_semantic_search_spark.config import Settings
from cdrc_semantic_search_spark.encoder import normalize_surface
from cdrc_semantic_search_spark.operators.extraction_core import AliasMatcher, extract_turn
from cdrc_semantic_search_spark.operators.linking import build_entity_index

EDGE_KEY = ["subj_entity_id", "pred", "obj_entity_id"]
POOL_SEED = 0  # the pool and the history are the same for every --seed


@dataclass(frozen=True)
class Shape:
    """What a workload's input looks like. ``pool`` conversations are
    generated once; the seeded input holds exactly ``turns`` turns in
    ``files`` parquet files, over a fixed history of ``history_turns``
    turns in ``history_files`` files (none when 0). The warm-up input
    holds ``warm_turns`` turns in ``files`` files."""

    pool: int
    entities: int
    perturb_rate: float
    turns: int
    files: int
    history_turns: int = 0
    history_files: int = 0
    warm_turns: int = 1_000

    def pool_key(self) -> str:
        return f"c{self.pool}_e{self.entities}_p{self.perturb_rate:g}"

    def key(self, seed: int) -> str:
        return (
            f"{self.pool_key()}_h{self.history_turns}x{self.history_files}"
            f"_t{self.turns}x{self.files}_w{self.warm_turns}_s{seed}"
        )


@dataclass
class Expected:
    """Oracle outputs over the history and the input together."""

    triples: pd.DataFrame  # conv_id, turn_idx, subj, pred, obj, score
    edges: pd.DataFrame  # subj, pred, obj, weight, first_ts, last_ts
    mentions: int  # mentions found, linked or not
    node_mentions: dict[str, int]  # entity_id -> linked mention count
    surfaces: dict[str, str | None]  # normalized surface -> linked entity


@dataclass
class Inputs:
    shape: Shape
    seed: int
    root: str
    entities: pd.DataFrame
    turns: int  # in the seeded input
    expected: Expected | None

    @property
    def input_dir(self) -> str:
        return os.path.join(self.root, "input")

    @property
    def warm_dir(self) -> str:
        return os.path.join(self.root, "warm")

    @property
    def history_dir(self) -> str:
        """Shared by every seed of the same shape."""
        return os.path.join(os.path.dirname(self.root), "history_" + self.shape.key(0))


def _pool(shape: Shape, state_dir: str) -> fixtures.Fixture:
    path = os.path.join(state_dir, "pools", shape.pool_key() + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    fx = fixtures.generate(
        seed=POOL_SEED,
        n_conversations=shape.pool,
        n_entities=shape.entities,
        perturb_rate=shape.perturb_rate,
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(fx, f)
    os.replace(path + ".tmp", path)
    return fx


def _take(by_conv: dict[str, pd.DataFrame], order: list[str], turns: int) -> pd.DataFrame:
    """The conversations in ``order`` up to exactly ``turns`` turns."""
    parts, have = [], 0
    for conv in order:
        parts.append(by_conv[conv].iloc[: turns - have])
        have += len(parts[-1])
        if have == turns:
            return pd.concat(parts, ignore_index=True)
    raise ValueError(f"pool holds {have} turns, fewer than the {turns} asked for")


def _write(frame: pd.DataFrame, files: int, out: str, tag: str) -> None:
    """Deal whole conversations round-robin to ``files`` parquet files."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    frame = frame.assign(ts=frame["ts"].dt.tz_localize("UTC"))
    slot = frame["conv_id"].map({c: i % files for i, c in enumerate(frame["conv_id"].unique())})
    for f in range(files):
        pq.write_table(
            pa.Table.from_pandas(frame[slot == f], preserve_index=False),
            os.path.join(tmp, f"{tag}-{f:03d}.parquet"),
            coerce_timestamps="us",
        )
    os.replace(tmp, out)


def _expected(transcripts: pd.DataFrame, entities: pd.DataFrame) -> Expected:
    settings = Settings()
    triples = oracle.oracle_triples(transcripts, entities, settings)
    ts = transcripts[["conv_id", "turn_idx", "ts"]]
    timed = triples.merge(ts, on=["conv_id", "turn_idx"], how="left")
    edges = (
        timed.groupby(EDGE_KEY)
        .agg(weight=("ts", "size"), first_ts=("ts", "min"), last_ts=("ts", "max"))
        .reset_index()
    )
    # mention links, memoized per normalized surface: linking depends on
    # the surface alone
    matcher = AliasMatcher(
        [(r.entity_id, [r.canonical_name, *list(r.aliases)]) for r in entities.itertuples()]
    )
    index = build_entity_index(entities, settings)
    surfaces: dict[str, str | None] = {}
    nodes: Counter = Counter()
    found = 0
    for text in transcripts["text"]:
        mentions, _ = extract_turn(text or "", matcher)
        found += len(mentions)
        for m in mentions:
            key = normalize_surface(m.surface)
            if key not in surfaces:
                surfaces[key] = oracle._link(m.surface, index, settings)[0]
            if surfaces[key] is not None:
                nodes[surfaces[key]] += 1
    return Expected(triples, edges, found, dict(nodes), surfaces)


def prepare(shape: Shape, seed: int, state_dir: str) -> Inputs:
    """Inputs for ``shape`` at ``seed``, made once and then cached."""
    root = os.path.join(state_dir, "inputs", shape.key(seed))
    meta_path = os.path.join(root, "meta.pkl")
    if os.path.exists(meta_path):
        with open(meta_path, "rb") as f:
            inputs = pickle.load(f)
        inputs.root = root
        return inputs
    fx = _pool(shape, state_dir)
    by_conv = dict(tuple(fx.transcripts.groupby("conv_id", sort=True)))
    convs = list(by_conv)
    fixed = [convs[i] for i in np.random.default_rng(POOL_SEED).permutation(len(convs))]
    history = _take(by_conv, fixed, shape.history_turns) if shape.history_turns else None
    taken = set() if history is None else set(history["conv_id"])
    rest = [c for c in convs if c not in taken]
    order = [rest[i] for i in np.random.default_rng(seed).permutation(len(rest))]
    frame = _take(by_conv, order, shape.turns)
    os.makedirs(root, exist_ok=True)
    inputs = Inputs(shape, seed, root, fx.entities, len(frame), None)
    _write(frame, shape.files, inputs.input_dir, "input")
    used = set(frame["conv_id"])
    warm = _take(by_conv, [c for c in order if c not in used], shape.warm_turns)
    _write(warm, shape.files, inputs.warm_dir, "warm")
    if history is not None:
        if not os.path.isdir(inputs.history_dir):
            _write(history, shape.history_files, inputs.history_dir, "history")
        frame = pd.concat([history, frame], ignore_index=True)
    inputs.expected = _expected(frame, fx.entities)
    with open(meta_path + ".tmp", "wb") as f:
        pickle.dump(inputs, f)
    os.replace(meta_path + ".tmp", meta_path)
    return inputs
