"""The VALUES-literal oracle twins (plans/value_oracles.py) must agree
with Spark's engine-internal primitives — otherwise a pinned oracle would
institutionalize a wrong answer."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cdrc_semantic_search_spark.plans import value_oracles as vo


def test_xxh64_matches_public_vectors():
    # canonical XXH64 test vectors, seed 0 (unsigned form)
    u = lambda x: x & ((1 << 64) - 1)
    assert u(vo.xxh64(b"", 0)) == 0xEF46DB3751D8E999
    assert u(vo.xxh64(b"a", 0)) == 0xD24EC4F1A98C6E5B
    assert u(vo.xxh64(b"abc", 0)) == 0x44BC2CF5AD770999


def test_xxh64_matches_spark_xxhash64(spark):
    """Spark's F.xxhash64 on a string = XXH64(utf8 bytes, seed 42);
    cover every length class (empty, <4, <8, <32, >32, multi-stripe)."""
    samples = [
        "",
        "a",
        "abc",
        "abcdefg",
        "winnowing fingerprint",
        "the quick brown fox jumps over the lazy dog",
        "x" * 31,
        "y" * 32,
        "z" * 100,
        "unicode: naïve café — ünïcode ✓",
    ]
    rows = spark.createDataFrame([(s,) for s in samples], "s string").select(
        "s", F.xxhash64("s").alias("h")
    ).collect()
    for r in rows:
        assert vo.xxh64(r["s"].encode()) == r["h"], f"mismatch on {r['s']!r}"


def test_tokens_twin_matches_catalyst(spark):
    """value_oracles._tokens must replicate functions.text.tokens
    (java regex + toLowerCase vs python re + .lower())."""
    from cdrc_semantic_search_spark.functions.text import tokens

    samples = [
        "Hello, World! 123",
        "  multiple   spaces\tand\nnewlines ",
        "MiXeD-CaSe_under_scores",
        "",
        "símbolos ñ façade",  # non-ascii letters are separators in [^a-z0-9]
    ]
    rows = spark.createDataFrame([(s,) for s in samples], "s string").select(
        "s", tokens(F.col("s")).alias("t")
    ).collect()
    for r in rows:
        assert vo._tokens(r["s"]) == list(r["t"]), f"mismatch on {r['s']!r}"


def test_round_half_up_matches_spark_round(spark):
    samples = [0.5, 1.5, 0.1234565, 0.1234575, 0.7254805266857147, 2.0000005]
    rows = spark.createDataFrame([(x,) for x in samples], "x double").select(
        "x", F.round("x", 6).alias("r")
    ).collect()
    for r in rows:
        assert vo._round_half_up(r["x"], 6) == r["r"], f"mismatch on {r['x']!r}"


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "dedup_simhash", "ta_winnowing"]
)
def test_values_oracle_builds_and_caches(name):
    sql1 = vo.lazy(name)()
    sql2 = vo.lazy(name)()
    assert sql1 is sql2  # cached, not rebuilt
    assert sql1.startswith("SELECT CAST(")


def test_values_sql_roundtrip_exact():
    """values_sql must round-trip ARBITRARY doubles/ints/strings through
    DuckDB bit-exactly — quotes, NaN, subnormals, 2^53+ doubles (the
    DECIMAL(38) detour would corrupt those)."""
    import math

    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=-(2**62), max_value=2**62),
                st.floats(allow_infinity=False),  # NaN allowed
                # NUL can't exist in a SQL string literal — _lit raises on
                # it (covered below); everything else must round-trip
                st.text(max_size=20).filter(lambda s: "\x00" not in s),
            ),
            min_size=1,
            max_size=5,
        )
    )
    def roundtrip(rows):
        sql = vo.values_sql(
            rows, [("i", "BIGINT"), ("x", "DOUBLE"), ("s", "VARCHAR")]
        )
        got = duckdb.sql(sql).fetchall()
        assert len(got) == len(rows)
        for (i0, x0, s0), (i1, x1, s1) in zip(rows, got):
            assert i0 == i1
            assert (math.isnan(x0) and math.isnan(x1)) or x0 == x1
            assert (s0 == s1) or (s1 is None and s0 == "")  # VARCHAR '' stays '' in duckdb; guard anyway
    roundtrip()

    with pytest.raises(ValueError, match="NUL"):
        vo.values_sql([(1, 0.0, "a\x00b")], [("i", "BIGINT"), ("x", "DOUBLE"), ("s", "VARCHAR")])


def test_crc32_matches_spark(spark):
    """zlib.crc32 must equal Spark's F.crc32 on UTF-8 bytes (the
    graph_random_walks twin routes hops through this equality)."""
    import zlib

    samples = ["", "a", "42|17:0|1|17", "42|1005:1|3|23", "naïve ✓", "x" * 100]
    rows = spark.createDataFrame([(s,) for s in samples], "s string").select(
        "s", F.crc32(F.col("s").cast("binary")).alias("h")
    ).collect()
    for r in rows:
        assert zlib.crc32(r["s"].encode()) == r["h"], f"mismatch on {r['s']!r}"


@pytest.mark.parametrize("partitions", [1, 7])
def test_surface_clusters_equal_specification_twin(spark, partitions):
    """KGPipeline.surface_clusters gives every surface exactly the label
    of the pure-Python specification twin (_fixture_surface_clusters:
    LSH buckets, left-fold cosine ≥ τ, union-find with min canonical),
    whatever the partitioning of the mentions."""
    from cdrc_semantic_search_spark import fixtures
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    fx = fixtures.generate(seed=42, n_conversations=40, n_entities=100)
    tdf, _ = fixtures.to_spark(spark, fx)
    pipe = KGPipeline(spark, fx.entities, Settings())
    mentions = pipe.mentions(tdf).repartition(partitions)
    got = {
        r.surface: r.canonical_surface
        for r in pipe.surface_clusters(mentions).collect()
    }
    _gold, _counts, want = vo._fixture_surface_clusters()
    assert len(want) > 100 and len(set(want.values())) < len(want)
    assert got == want
