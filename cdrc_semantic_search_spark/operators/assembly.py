"""Per-conversation turn assembly under stable (conv_id, turn_idx) ordering.

This is the load-bearing window of the engine (SURVEY §2.6 W5): the
reference's SentenceSplitter emits chunks in stable document order and its
group-rollup concatenates retrieved chunks in retrieval order
(/root/reference/src/datastore.py:112-115, src/model.py:27).  Here the
unit is a conversation turn and the ordering key is explicit —
``(turn_idx)`` within ``conv_id`` — so results are deterministic under any
partitioning (no reliance on partition iteration order).

Scale notes (10^12 turns):
* ``assemble_conversations`` is a TWO-STAGE ordered concat: turns first
  collapse within fixed-size turn blocks, then blocks collapse per
  conversation.  A hot conversation with 10^6 turns never materializes a
  single 10^6-element ``collect_list`` on one task — state per group is
  bounded by ``block_size`` (stage 1) / n_blocks (stage 2). Map-side
  partial aggregation applies to both stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.functions.names import internal_col

TURN_SEP = "\n"


def assemble_conversations(
    df: DataFrame,
    sep: str = TURN_SEP,
    block_size: int = 1024,
) -> DataFrame:
    """conv_id → full ordered conversation text + turn count + span.

    Deterministic ordered concat: explicit sort on (turn_idx) via
    ``array_sort(collect_list(struct(...)))`` — never partition order
    (SURVEY §7 "hard parts" #1). Two-stage to bound per-group state.
    """
    block = (F.col("turn_idx") / F.lit(block_size)).cast("int").alias("turn_block")
    stage1 = (
        df.select("conv_id", block, "turn_idx", "text", "ts")
        .groupBy("conv_id", "turn_block")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s["text"],
                ),
            ).alias("block_text"),
            F.count(F.lit(1)).alias("block_turns"),
            F.min("ts").alias("block_min_ts"),
            F.max("ts").alias("block_max_ts"),
        )
    )
    return (
        stage1.groupBy("conv_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_block", "block_text"))),
                    lambda s: s["block_text"],
                ),
            ).alias("conversation_text"),
            F.sum("block_turns").cast("long").alias("n_turns"),
            F.min("block_min_ts").alias("first_ts"),
            F.max("block_max_ts").alias("last_ts"),
        )
    )


def salted_repartition(df: DataFrame, num_partitions: int, salt: int = 8) -> DataFrame:
    """Repartition by (conv_id, salt) so one hot conversation spreads over
    ``salt`` partitions instead of one.  Row-local ops (extraction UDFs)
    are key-agnostic, so salting costs nothing downstream; per-conv aggs
    re-shuffle anyway and AQE skew handling backstops those."""
    salted = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt))
    return df.repartition(num_partitions, F.col("conv_id"), salted)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    n_salts: int,
    fact_salt_cols: list[str],
    how: str = "inner",
) -> DataFrame:
    """Skew-safe big-big equi-join: the fact side salts each row into one
    of ``n_salts`` lanes (deterministically, from ``fact_salt_cols`` —
    e.g. the fact's unique id, so the plan is stable across partitionings
    and reruns), the dim side replicates every row into all lanes, and
    the join runs on (keys ∪ lane). A hot key's rows then spread over
    ``n_salts`` reducers instead of funneling into one.

    Result rows are IDENTICAL to the plain join (every fact row still
    meets every matching dim row, exactly once) — salting changes the
    exchange, not the semantics — so a plain-join SQL oracle pins it.

    This is the manual fallback for the cases AQE's runtime skew-join
    cannot rewrite (stream-static joins; skew it cannot observe because
    the hot key is spread across map outputs) and for when the dim side
    is too big to broadcast: replication costs n_salts·|dim| shuffle
    rows, worth it when |fact_hot_key| ≫ n_salts·|dim|. ``how`` supports
    the fact-preserving joins (inner / left / left_semi / left_anti);
    dim-preserving joins would see replicated unmatched dim rows.
    """
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(f"unsupported how for salted_join: {how}")
    # collision-proof lane name: either input may already carry __lane
    # (e.g. the output of another salting job)
    lane_col = internal_col([*fact.columns, *dim.columns], "__lane")
    lane = F.pmod(
        F.xxhash64(*[F.col(c) for c in fact_salt_cols]), F.lit(n_salts)
    )
    f = fact.withColumn(lane_col, lane)
    d = dim.withColumn(
        lane_col,
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])),
    )
    return f.join(d, [*on, lane_col], how).drop(lane_col)
