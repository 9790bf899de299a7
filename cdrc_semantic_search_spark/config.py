"""Typed, validated engine settings.

Re-expresses the reference's pydantic settings layer
(``/root/reference/src/common/utils.py:15-39``): bounded ints
(``embed_dim`` ∈ (0, 10000], ``top_k`` ∈ (0, 100]), the retrieval-mode
enum {default, sparse, hybrid} (``utils.py:30``) and the bounded hybrid
blend ``alpha`` ∈ (0, 1] (``utils.py:31``), chunking knobs
(``config/config.toml:8-9``: chunk_size=256, chunk_overlap=32).  The
reference's index overwrite flag (``config.toml:10``) has no setting here:
catalog writes are always full-table replaces or idempotent partition
overwrites.  Implemented as plain dataclasses (pydantic is not a
dependency) with the same range checks.
"""

from __future__ import annotations

from dataclasses import dataclass, field

_QUERY_MODES = ("default", "sparse", "hybrid")


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise ValueError(msg)


@dataclass(frozen=True)
class EncoderSettings:
    """Embedding knobs (reference: config.toml:7 — dim 3072, OpenAI model).

    The encoder is pluggable; the sandbox default is a deterministic hashed
    char-n-gram projection so tests are hermetic and oracle parity is exact.
    """

    embed_dim: int = 64
    seed: int = 42
    ngram: int = 3

    def __post_init__(self) -> None:
        _check(0 < self.embed_dim <= 10_000, "embed_dim must be in (0, 10000]")
        _check(self.ngram >= 1, "ngram must be >= 1")


@dataclass(frozen=True)
class ChunkSettings:
    """SentenceSplitter analog (reference: datastore.py:112-115)."""

    chunk_size: int = 256
    chunk_overlap: int = 32

    def __post_init__(self) -> None:
        _check(self.chunk_size > 0, "chunk_size must be > 0")
        _check(
            0 <= self.chunk_overlap < self.chunk_size,
            "chunk_overlap must be in [0, chunk_size)",
        )


@dataclass(frozen=True)
class RetrievalSettings:
    """Hybrid top-k retrieval knobs (reference: config.toml:13-15, model.py:73-79)."""

    top_k: int = 30
    alpha: float = 0.75
    query_mode: str = "hybrid"
    # minimum blended score for an embedding-fallback link to be accepted
    link_threshold: float = 0.0

    def __post_init__(self) -> None:
        _check(0 < self.top_k <= 100, "top_k must be in (0, 100]")
        _check(0.0 < self.alpha <= 1.0, "alpha must be in (0, 1]")
        _check(
            self.query_mode in _QUERY_MODES,
            f"query_mode must be one of {_QUERY_MODES}",
        )


@dataclass(frozen=True)
class PipelineSettings:
    """KG-pipeline physical knobs (scale levers; SURVEY §4)."""

    # number of conv_id hash buckets = unit of commit/resume (Iceberg
    # bucket(N, conv_id) analog)
    num_buckets: int = 16
    # canonicalization LSH bucket space: each band hashes surfaces into
    # 2^(canon_n_planes / canon_n_bands) buckets and candidate generation
    # is quadratic IN THE BUCKET — size planes/band to ~log2(n_surfaces /
    # desired_bucket_rows). The 16/4 default fits thousands of surfaces;
    # measured at 20k near-dup surfaces: 125 s to pair at 16/4, ~5 s at
    # 48/4 (canonicalize_embedded docstring, scripts/inc_canon_bench.py)
    canon_n_planes: int = 16
    canon_n_bands: int = 4

    def __post_init__(self) -> None:
        _check(self.num_buckets > 0, "num_buckets must be > 0")
        _check(
            self.canon_n_planes > 0
            and self.canon_n_bands > 0
            and self.canon_n_planes % self.canon_n_bands == 0,
            "canon_n_planes must be a positive multiple of canon_n_bands",
        )


@dataclass(frozen=True)
class Settings:
    encoder: EncoderSettings = field(default_factory=EncoderSettings)
    chunking: ChunkSettings = field(default_factory=ChunkSettings)
    retrieval: RetrievalSettings = field(default_factory=RetrievalSettings)
    pipeline: PipelineSettings = field(default_factory=PipelineSettings)
