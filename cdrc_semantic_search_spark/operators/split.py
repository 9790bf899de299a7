"""Deterministic dataset splitting and MERGE-style upsert for training
pipelines.

``df.randomSample``/``randomSplit`` are seed-dependent AND
partitioning-dependent — rerunning after a repartition reassigns rows,
which silently leaks validation data into training. The splitter here is
a pure function of the KEY: md5-bucket the key, threshold the buckets by
the requested fractions. Same row → same split, forever, on any engine
(md5 is portable, unlike xxhash64) — so the assignment is auditable in
DuckDB/Trino/pandas and stable across reprocessing runs at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.functions.names import internal_col

_BUCKETS = 10_000


def split_bucket(key: Column, salt: str = "split") -> Column:
    """Stable bucket in [0, 10000): first 8 hex chars of md5(salt|key).

    NULL keys yield a NULL bucket (F.concat propagates NULL, matching
    SQL's ``'salt|' || key``) — every threshold comparison is then NULL
    and the when-chain falls through to the LAST split, identically on
    every engine. concat_ws would silently skip the NULL and hash all
    NULL keys into one real bucket, diverging from the SQL twin.
    """
    digest = F.md5(F.concat(F.lit(f"{salt}|"), key.cast("string")))
    return F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % _BUCKETS


def deterministic_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Attach ``out_col`` ∈ fractions.keys(), keyed purely on ``key_col``.

    Fractions must sum to 1 (±1e-9); assignment boundaries are cumulative
    bucket thresholds, so fractions hold in expectation (exact to 1/10000).
    """
    if not fractions:
        raise ValueError("fractions must not be empty")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    names = list(fractions)
    bounds = []
    acc = 0.0
    for name in names:
        acc += fractions[name]
        bounds.append(int(round(acc * _BUCKETS)))
    bucket = split_bucket(F.col(key_col), salt)
    col = F.lit(names[-1])
    for name, bound in reversed(list(zip(names[:-1], bounds[:-1]))):
        col = F.when(bucket < bound, F.lit(name)).otherwise(col)
    return df.withColumn(out_col, col)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fraction: float,
    salt: str = "sample",
) -> DataFrame:
    """EXACT stratified sampling: every stratum keeps exactly
    ⌈n_stratum · fraction⌉ rows, chosen deterministically by md5-bucket
    rank (tie-broken by key). ``df.sampleBy`` draws per-row Bernoulli —
    stratum sizes vary run-to-run and with partitioning; this is the
    reproducible class-balanced subset a training pipeline can audit.

    The quota is computed in exact rational arithmetic on the fraction's
    decimal representation (``Fraction(str(fraction))``), never in
    doubles: ``ceil(15 * 0.2)`` in float64 is 4 (0.2 has no exact binary
    form), while the stated ⌈n·fraction⌉ contract says 3. With fraction
    = num/den, ``rn ≤ ⌈n·num/den⌉  ⟺  (rn−1)·den < n·num`` for positive
    integers — a pure integer comparison (decimal(38,0) so den up to
    1e16 from ugly float fractions can't overflow), no division, exact
    on any engine.

    One shuffle on the stratum (window rank + windowed count share it).
    """
    from fractions import Fraction

    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    frac = Fraction(str(fraction))
    num, den = frac.numerator, frac.denominator
    w = Window.partitionBy(strata_col).orderBy(
        split_bucket(F.col(key_col), salt), F.col(key_col)
    )
    wc = Window.partitionBy(strata_col)
    rn = internal_col(df.columns, "__rn")
    cnt = internal_col([*df.columns, rn], "__n")
    return (
        df.withColumn(rn, F.row_number().over(w))
        .withColumn(cnt, F.count(F.lit(1)).over(wc))
        .filter(
            (F.col(rn) - 1).cast("decimal(38,0)") * F.lit(den)
            < F.col(cnt).cast("decimal(38,0)") * F.lit(num)
        )
        .drop(rn, cnt)
    )


def merge_upsert(target: DataFrame, updates: DataFrame, key_cols: list[str]) -> DataFrame:
    """MERGE INTO semantics without a table format: updated rows replace
    matching target rows, new rows append, unmatched target rows survive.

    Declarative shape: one full-outer join on the keys + per-column
    coalesce preferring the update side — the exact logical plan Iceberg/
    Delta MERGE compiles to before their file-level pruning; writing the
    result through catalog.create_or_replace (a staged write, then a
    commit that swaps it in) gives the copy-on-write upsert (K1's
    vector-index upsert analog at table granularity).
    Updates must be unique per key (enforce upstream); schemas must match.
    """
    if set(target.columns) != set(updates.columns):
        raise ValueError(
            f"schema mismatch: {sorted(target.columns)} vs {sorted(updates.columns)}"
        )
    value_cols = [c for c in target.columns if c not in key_cols]
    t = target.select(
        *[F.col(c) for c in key_cols],
        F.struct(*[F.col(c) for c in value_cols]).alias("__t"),
    )
    u = updates.select(
        *[F.col(c) for c in key_cols],
        F.struct(*[F.col(c) for c in value_cols]).alias("__u"),
    )
    merged = t.join(u, key_cols, "full_outer")
    picked = F.coalesce(F.col("__u"), F.col("__t"))
    return merged.select(
        *key_cols, *[picked.getField(c).alias(c) for c in value_cols]
    )


def weighted_mix(
    df: DataFrame,
    source_col: str,
    key_col: str,
    weights: dict[str, float],
    total: int,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic domain mixing: a training subset whose composition
    follows ``weights`` per source — quota_s = ⌊total·w_s⌋ rows from each
    source, members chosen by md5-bucket rank (tie-broken by key), so the
    mix is a pure function of (key, salt): stable across runs,
    partitionings, and engines, and auditable in plain SQL.

    The pre-training corpus composition step (web/reference/code ratios):
    ``df.sample`` composition drifts run-to-run and with partitioning;
    this doesn't. Sources absent from ``weights`` are dropped; a source
    with fewer rows than its quota contributes everything it has (the
    shortfall is NOT redistributed — the caller sees it in the output
    counts and decides). Quotas use exact rational arithmetic on the
    weight's decimal representation — never float multiplication (0.3·N
    in float64 under-counts for many N).

    One shuffle, on the source column (the window rank); the quota map
    rides the plan as a literal when-chain (it is driver-side small).
    """
    from fractions import Fraction

    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    if not weights:
        raise ValueError("weights must not be empty")
    if any(wt <= 0 for wt in weights.values()):
        raise ValueError("every weight must be > 0")
    wsum = sum(weights.values())
    if abs(wsum - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {wsum}")
    quotas: dict[str, int] = {}
    for name, wt in weights.items():
        frac = Fraction(str(wt)) * total
        quotas[name] = frac.numerator // frac.denominator
    quota_col = F.lit(0)
    for name, q in quotas.items():
        quota_col = F.when(F.col(source_col) == name, F.lit(q)).otherwise(
            quota_col
        )
    # NULLS LAST explicitly: split_bucket(NULL) is NULL, Spark's default
    # asc sort puts NULLs FIRST while SQL engines (the audit twin) put
    # them LAST — NULL-keyed rows must rank last on every engine, only
    # entering the mix when a quota exceeds the non-NULL rows
    w = Window.partitionBy(source_col).orderBy(
        F.asc_nulls_last(split_bucket(F.col(key_col), salt)),
        F.asc_nulls_last(F.col(key_col)),
    )
    rn = internal_col(df.columns, "__rn")
    return (
        df.filter(F.col(source_col).isin(list(weights)))
        .withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) <= quota_col)
        .drop(rn)
    )


def distribution_psi(
    a: DataFrame, b: DataFrame, group_col: str
) -> DataFrame:
    """Population-stability-index terms between two snapshots of a
    categorical distribution — the drift monitor a training-data mix
    runs between refreshes (did the domain/source composition of the
    corpus move under the sampler?).  Per category:
    ``psi_term = (p_a − p_b) · ln(p_a / p_b)`` (≥ 0 always); the total
    PSI is the sum (conventional gates: <0.1 stable, >0.25 shifted).

    Categories present on only ONE side get a NULL psi_term rather than
    an epsilon-smoothed fiction: ln(0) is undefined and any smoothing
    constant is a policy choice the caller should make explicitly —
    NULL surfaces the new/vanished category instead of hiding it inside
    a magic number.

    Scale shape: each side is one groupBy(category).count() (map-side
    partials; category key spaces are tiny by definition), totals ride
    as 1-row broadcast cross joins (never a driver collect), the final
    full-outer join is category-keyed.  Proportions divide exactly the
    same integer counts on any engine; the single ln() call is libm on
    both sides and the term is rounded to 6 — the same determinism
    budget as the BM25/RRF entries.
    """
    ca = a.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_a"))
    cb = b.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_b"))
    joined = (
        ca.join(cb, group_col, "full_outer")
        .select(
            group_col,
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        .crossJoin(F.broadcast(ca.agg(F.sum("n_a").alias("tot_a"))))
        .crossJoin(F.broadcast(cb.agg(F.sum("n_b").alias("tot_b"))))
    )
    p_a = F.col("n_a") / F.col("tot_a")
    p_b = F.col("n_b") / F.col("tot_b")
    term = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        (p_a - p_b) * F.log(p_a / p_b),
    )
    return joined.select(
        F.col(group_col),
        "n_a",
        "n_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round(term, 6).alias("psi_term"),
    )


def bottom_k_sample(
    df: DataFrame, key: Column, k: int, salt: str = "bk"
) -> DataFrame:
    """Deterministic uniform sample WITHOUT a shuffle-the-world sort: the
    k rows whose ``md5(salt|key)`` is smallest — the classic bottom-k
    sketch (Cohen & Kaplan 2007). Because the hash is a pure function of
    the key, the sample is (a) reproducible across runs/engines/
    partitionings, (b) MERGEABLE: bottom-k of a union = bottom-k of the
    per-partition bottom-ks, which is exactly how the two-stage plan
    below computes it (per-partition top-k window first, global window
    over ≤ n_partitions·k survivors — the topk_cosine_exact discipline),
    and (c) coordinated: two tables sampled with the same salt keep
    JOINABLE keys (the estimator basis for bottom-k Jaccard).

    → input columns + ``__bk_rank`` (1..k by hash asc, key asc).
    """
    from cdrc_semantic_search_spark.functions.names import internal_col

    taken = set(df.columns) | {"__bk_rank"}
    h = internal_col(taken, "__bk_hash")
    part = internal_col(taken | {h}, "__bk_part")
    prank = internal_col(taken | {h, part}, "__bk_prank")
    hashed = df.withColumn(h, F.md5(F.concat(F.lit(salt + "|"), key.cast("string"))))
    pw = Window.partitionBy(F.col(part)).orderBy(F.col(h).asc(), key.asc())
    partial = (
        hashed.withColumn(part, F.spark_partition_id())
        .withColumn(prank, F.row_number().over(pw))
        .filter(F.col(prank) <= k)
        .drop(part, prank)
    )
    w = Window.orderBy(F.col(h).asc(), key.asc())
    return (
        partial.withColumn("__bk_rank", F.row_number().over(w))
        .filter(F.col("__bk_rank") <= k)
        .drop(h)
    )


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: apply a batch of keyed
    updates to a versioned history table, closing superseded rows
    instead of overwriting them — the KG node/edge ATTRIBUTE history
    pattern (an entity whose canonical name changes must keep the old
    name queryable as-of its era; kg time travel covers partitions,
    SCD2 covers row attributes).

    ``history``: key_cols + value_cols + (valid_from, valid_to) with
    valid_to NULL on current rows. ``updates``: key_cols + value_cols +
    ``ts_col``, at most one row per key per batch (enforce upstream),
    and ts MONOTONE per key: each update's ts must be strictly after
    the current row's valid_from (a late-arriving update with
    ts <= valid_from would close the current row with valid_to <
    valid_from — an inverted validity interval; dedupe/clamp
    out-of-order feeds upstream, the same precondition Iceberg/Delta
    MERGE-based SCD2 templates carry).
    Per key: a changed value closes the current row at the update's ts
    and inserts a new current row; an identical value is a no-op (no
    spurious version); a new key inserts. Closed history always passes
    through untouched.

    Declarative shape: one full-outer join of the CURRENT slice against
    the updates on the keys (closed rows never join), struct-packed
    value comparison, and a union — the logical plan Iceberg/Delta
    MERGE compiles to for the classic SCD2 WHEN MATCHED/NOT MATCHED
    template; write through catalog.create_or_replace for the
    copy-on-write commit (the staged write may read the history table
    it replaces).
    """
    vt, vf = "valid_to", "valid_from"
    closed = history.filter(F.col(vt).isNotNull())
    current = history.filter(F.col(vt).isNull())
    pack = lambda cols: F.struct(*[F.col(c) for c in cols])  # noqa: E731
    c = current.select(
        *key_cols, pack(value_cols).alias("__cv"), F.col(vf).alias("__cfrom")
    )
    u = updates.select(
        *key_cols, pack(value_cols).alias("__uv"), F.col(ts_col).alias("__uts")
    )
    j = c.join(u, key_cols, "full_outer")
    unchanged = (
        j.filter(F.col("__uv").isNull() | (F.col("__uv") == F.col("__cv")))
        .filter(F.col("__cv").isNotNull())
        .select(
            *key_cols,
            *[F.col("__cv").getField(v).alias(v) for v in value_cols],
            F.col("__cfrom").alias(vf),
            F.lit(None).cast(history.schema[vt].dataType).alias(vt),
        )
    )
    changed = j.filter(
        F.col("__uv").isNotNull()
        & F.col("__cv").isNotNull()
        & (F.col("__uv") != F.col("__cv"))
    )
    closed_now = changed.select(
        *key_cols,
        *[F.col("__cv").getField(v).alias(v) for v in value_cols],
        F.col("__cfrom").alias(vf),
        F.col("__uts").alias(vt),
    )
    inserted = (
        j.filter(F.col("__uv").isNotNull())
        .filter(F.col("__cv").isNull() | (F.col("__uv") != F.col("__cv")))
        .select(
            *key_cols,
            *[F.col("__uv").getField(v).alias(v) for v in value_cols],
            F.col("__uts").alias(vf),
            F.lit(None).cast(history.schema[vt].dataType).alias(vt),
        )
    )
    return closed.unionByName(unchanged).unionByName(closed_now).unionByName(
        inserted
    )
