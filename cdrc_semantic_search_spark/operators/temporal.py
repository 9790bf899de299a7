"""Temporal operators Spark lacks as primitives: as-of join, range join,
hypertable-style cascading time rollups.

These are the time-series idioms a transcript/event pipeline needs around
the KG core (enrich each turn/event with the dimension version that was
current at its timestamp; bucket activity at multiple resolutions). Each
is a COMPOSITION of DataFrame ops — no UDFs — so Catalyst plans and
optimizes them like any other query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """As-of join: each left row gets the right row with the greatest
    ``right_ts`` <= ``left_ts`` for the same key (backward, inclusive);
    NULL values when no right row precedes.

    NOT implemented as a join at all: both sides union into one stream
    per key, a single window pass carries the latest right payload
    forward, then left rows filter back out. One shuffle on the key, zero
    candidate-pair explosion — the classic scalable as-of shape (an
    inequality join would make Catalyst buffer every (left, right)
    key-pair candidate). Right rows sort BEFORE left rows at equal
    timestamps so the match is inclusive.

    The right payload is carried as ONE struct, not per column: the most
    recent right ROW wins as a whole, so a NULL inside the latest
    snapshot stays NULL (per-column ``last(ignorenulls)`` would resurrect
    an older value and could mix columns from different rows — not as-of
    semantics).
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (key, right_ts)
    ]
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"value_cols {sorted(clash)} collide with left columns — rename "
            "the right-side payload columns before joining"
        )
    l_tagged = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),  # left sorts after right at equal ts
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        F.lit(None)
        .cast(f"struct<{', '.join(f'{c}:{dict(right.dtypes)[c]}' for c in value_cols)}>")
        .alias("__rrow"),
    )
    r_tagged = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(l_tagged.schema["__lrow"].dataType).alias("__lrow"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__rrow"),
    )
    uni = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = uni.select(
        "__side",
        "__lrow",
        F.last("__rrow", ignorenulls=True).over(w).alias("__rrow"),
    )
    return carried.filter(F.col("__side") == 1).select(
        *[F.col(f"__lrow.{c}").alias(c) for c in left.columns],
        *[F.col(f"__rrow.{c}").alias(c) for c in value_cols],
    )


def range_join_count(
    facts: DataFrame,
    ranges: DataFrame,
    fact_ts: str,
    range_start: str,
    range_end: str,
    range_keys: list[str],
    broadcast_ranges: bool = True,
) -> DataFrame:
    """Count facts falling inside each [start, end) range → one row PER
    RANGE (empty windows included with n_facts = 0).

    ``broadcast_ranges=True`` (the typical shape: ranges ≪ facts) forces
    a broadcast-nested-loop probe so the fact side is scanned once; pass
    False when the interval table is itself large and let Catalyst/AQE
    plan the conditional join (pair with a bucketed time pre-filter).
    The inner-join counts are left-joined back to the range table so
    no-match ranges survive.
    """
    cond = (F.col(fact_ts) >= F.col(range_start)) & (
        F.col(fact_ts) < F.col(range_end)
    )
    r = F.broadcast(ranges) if broadcast_ranges else ranges
    counts = (
        facts.join(r, cond, "inner")
        .groupBy(*range_keys)
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    return (
        ranges.select(*range_keys)
        .join(F.broadcast(counts) if broadcast_ranges else counts, range_keys, "left")
        .select(
            *range_keys,
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_facts"),
        )
    )


_DURATION_UNITS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def _duration_seconds(spec: str) -> int:
    """'N unit' → seconds (the subset of window widths the rollup nests)."""
    try:
        n, unit = spec.strip().split()
        return int(n) * _DURATION_UNITS[unit.lower()]
    except (ValueError, KeyError):
        raise ValueError(f"unsupported bucket width {spec!r}; use 'N second|minute|hour|day|week'") from None


def hypertable_rollup(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    agg_col: str,
    levels: tuple[str, ...] = ("1 hour", "1 day"),
) -> DataFrame:
    """Cascading time-bucketed rollup (TimescaleDB continuous-aggregate
    analog): the finest level aggregates the raw rows ONCE; every coarser
    level re-aggregates the level below it (sums of sums), so raw data is
    scanned exactly once no matter how many resolutions are materialized.

    → (level, bucket_start, *group_cols, n_rows, sum_val), all levels
    unioned. Correctness invariant (pinned by the oracle): the cascaded
    coarse levels equal direct aggregation of the raw rows — which only
    holds when every level is an exact multiple of the one below it
    (buckets nest); validated up front, misaligned levels raise.
    """
    if not levels:
        raise ValueError("levels must contain at least one bucket width")
    secs = [_duration_seconds(lvl) for lvl in levels]
    for prev, cur, pl, cl in zip(secs, secs[1:], levels, levels[1:]):
        if cur % prev != 0 or cur <= prev:
            raise ValueError(
                f"level '{cl}' must be a proper exact multiple of '{pl}' "
                "(coarser buckets must nest the finer ones)"
            )
    finest = levels[0]
    cur = (
        df.groupBy(
            F.window(ts_col, finest).getField("start").alias("bucket_start"),
            *group_cols,
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col(agg_col).cast("decimal(18,4)")).alias("__sum_dec"),
        )
    )
    out = cur.select(
        F.lit(finest).alias("level"), "bucket_start", *group_cols, "n_rows",
        F.col("__sum_dec").cast("double").alias("sum_val"),
    )
    for lvl in levels[1:]:
        cur = (
            cur.groupBy(
                F.window("bucket_start", lvl).getField("start").alias("bucket_start"),
                *group_cols,
            )
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("__sum_dec").alias("__sum_dec"),
            )
        )
        out = out.unionByName(
            cur.select(
                F.lit(lvl).alias("level"), "bucket_start", *group_cols, "n_rows",
                F.col("__sum_dec").cast("double").alias("sum_val"),
            )
        )
    return out


def gap_fill_locf(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    unit: str = "1 hour",
) -> DataFrame:
    """Regularize an irregular time series → one row per ``unit`` bucket
    per group over [min, max] of that group's observed range, with gaps
    filled by last-observation-carried-forward:
    (group, bucket_ts, value, is_gap).

    The time-series resample a metrics/monitoring consumer runs over
    event tables (a dashboard needs a point per hour, not per event).
    ``value`` is the per-bucket aggregated value where observations
    exist (caller pre-aggregates — this operator fills, it does not
    average), carried forward into empty buckets; buckets before a
    group's first observation cannot exist (the range starts at its
    first point). ``is_gap`` marks filled rows.

    Plan: one groupBy for each group's [min, max] span, ``sequence()`` +
    ``explode`` generates the dense bucket spine DISTRIBUTED (never a
    driver-side loop — a group's spine explodes on its executor), one
    left join of spine←observations co-partitioned on the group key, one
    window pass for the carry-forward. Spine size is bounded by
    span/unit per group; a runaway span (one stuck sensor with a year
    gap at 1-second units) inflates only its own group's partition —
    the caller bounds spans upstream.
    """
    if unit not in _TRUNC_UNIT:
        # an unknown unit would feed date_trunc an invalid fmt, which
        # yields NULL (not an error) and silently returns an empty frame
        raise ValueError(
            f"unsupported unit {unit!r}; supported: {sorted(_TRUNC_UNIT)}"
        )
    b = F.date_trunc(_TRUNC_UNIT[unit], F.col(ts_col))
    obs = (
        df.select(
            F.col(group_col).alias("g"),
            b.alias("bucket_ts"),
            F.col(value_col).alias("value"),
        )
        # one value per bucket: caller pre-aggregates; keep max for
        # determinism if they did not
        .groupBy("g", "bucket_ts")
        .agg(F.max("value").alias("value"))
    )
    spans = obs.groupBy("g").agg(
        F.min("bucket_ts").alias("t0"), F.max("bucket_ts").alias("t1")
    )
    spine = spans.select(
        "g",
        F.explode(
            F.sequence("t0", "t1", F.expr(f"INTERVAL {unit}"))
        ).alias("bucket_ts"),
    )
    w = (
        Window.partitionBy("g")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(obs, ["g", "bucket_ts"], "left")
        .select(
            F.col("g").alias(group_col),
            "bucket_ts",
            F.last("value", ignorenulls=True).over(w).alias("value"),
            F.col("value").isNull().alias("is_gap"),
        )
    )


_TRUNC_UNIT = {
    "1 hour": "hour",
    "1 day": "day",
    "1 minute": "minute",
}


def burst_detection(
    events: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    trailing: int = 3,
    num: int = 3,
    den: int = 2,
) -> DataFrame:
    """Per-key daily activity bursts: a day is a burst when its count
    beats ``num/den`` × the mean of the ``trailing`` preceding OBSERVED
    days — evaluated entirely in integers
    (``cnt * den * trailing > num * sum_prev`` ⇔
    cnt > (num/den)·mean_prev, default 1.5× the 3-day mean) so the
    oracle comparison has zero float hazard. Days without a full
    trailing window are emitted with is_burst = false (cold-start days
    are not bursts by definition, not silently dropped).

    The KG consumer: edge-activity spike detection over the temporal
    edge table (kg_edges_temporal) — "entity pair suddenly hot" is the
    trigger for re-canonicalization or trend surfacing; here expressed
    over any (key, ts) event stream.

    100-TB shape: one map-side-combinable (key, day) count — the only
    shuffle proportional to |events| — then a lag window over the
    per-(key, day) frame, which is |keys|·|days|-sized: orders of
    magnitude smaller than the input. Trailing window is ROWS-based
    (observed days), so gap days don't need densification.
    """
    daily = events.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return burst_flags(daily, trailing=trailing, num=num, den=den)


def burst_flags(
    daily: DataFrame, trailing: int = 3, num: int = 3, den: int = 2
) -> DataFrame:
    """The window/flag half of :func:`burst_detection` over an already
    aggregated (key, day, cnt) frame."""
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(-trailing, -1)
    )
    return daily.select(
        "key",
        "day",
        "cnt",
        F.sum("cnt").over(w).alias("sum_prev"),
        F.count(F.lit(1)).over(w).alias("n_prev"),
    ).select(
        "key",
        "day",
        "cnt",
        F.coalesce("sum_prev", F.lit(0)).alias("sum_prev"),
        (
            (F.col("n_prev") == trailing)
            & (F.col("cnt") * den * trailing > F.lit(num) * F.col("sum_prev"))
        ).alias("is_burst"),
    )


def decayed_activity(
    events: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    halflife_days: int = 1,
    max_age_days: int = 25,
) -> DataFrame:
    """Exponentially time-decayed activity per key, as of the NEWEST day
    in the input: score = Σ_days cnt_d · 2^(−age_d / halflife), ages
    capped at ``max_age_days`` (older days decay to the cap's weight
    rather than vanishing, keeping the score monotone in history).
    The recency-weighted entity-importance signal (trend ranking,
    canonicalization tie-breaks) where a plain count over-credits stale
    entities.

    FLOAT DISCIPLINE — this aggregate is exact despite being a double
    SUM: with integer halflife, every term cnt_d · 2^(−k) is a dyadic
    rational; granularity 2^(−max_age) and magnitude < 2^27 · counts
    keep every PARTIAL sum inside the 53-bit mantissa (max_age 25 +
    count bits ≤ 27 ⇒ span ≤ 52 bits), so addition never rounds and the
    result is bit-identical for ANY summation order — engine, partition
    count, and reduce-tree shape cannot change it. (Contrast arbitrary-
    base decay, where per-order rounding would force a tolerance.)

    100-TB shape: one map-side-combinable (key, day) count, one
    broadcast scalar max(day), then a second map-side-combinable sum
    per key — the decayed sum commutes with partial aggregation
    BECAUSE it is exact.
    """
    daily = events.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    newest = daily.select(F.max("day").alias("as_of"))
    aged = daily.crossJoin(F.broadcast(newest)).select(
        "key",
        "cnt",
        F.least(
            F.datediff(F.col("as_of"), F.col("day")), F.lit(max_age_days)
        ).alias("age"),
    )
    return aged.groupBy("key").agg(
        F.sum(
            F.col("cnt")
            * F.pow(
                F.lit(2.0),
                -(F.col("age").cast("double") / F.lit(float(halflife_days))),
            )
        ).alias("decayed"),
        F.sum("cnt").alias("total_cnt"),
    )
