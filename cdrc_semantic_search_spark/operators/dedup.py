"""Deduplication operators for large-scale training-data pipelines.

The reference never deduplicates (its corpus is 176 curated files), but a
100-TB transcript/document pipeline must. Exact duplicates are one
digest ``groupBy`` (the ``dedup_exact_groups`` query); the near-dup
strategies here go from cheapest to richest, and each returns
pair/cluster tables keyed deterministically:

* n-gram Jaccard  — shingle inverted index self-join, sub-quadratic
* MinHash + LSH   — banded signature buckets, classic near-dup at scale
* SimHash         — 64-bit fingerprint, hamming-band buckets
* embedding cosine— near-dup via cosine_pairs (operators/similarity.py)

Hash functions are crc32/md5-based (process- and platform-stable), never
Python ``hash()`` — determinism across runs/executors is part of the
contract (SURVEY §5.5).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.functions.observe import (
    drop_observation,
    log_dropped_on_first_action,
)
from cdrc_semantic_search_spark.functions.text import word_shingles

#: Default candidate-generation guard: groups (LSH buckets, shingle
#: posting lists, blocking keys) larger than this are skipped before any
#: self-join. 10k members bounds a single group's pair fan-out at
#: ~5·10⁷ — survivable once, fatal when a degenerate key holds millions
#: of rows. ``None`` is the explicit opt-out for exact small-corpus runs.
DEFAULT_MAX_BUCKET = 10_000


# ------------------------------------------------------------ n-gram Jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    cache_handle: list | None = None,
    max_shingle_df: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Pairs (id_a < id_b) with k-word-shingle Jaccard ≥ threshold.

    Candidate generation via an inverted shingle index (explode + equi-join
    on the shingle **hash**, not the string). The join shuffles
    (shingle_hash, id) pairs; per-pair intersection size falls out of a
    groupBy count, union size from the per-doc distinct-shingle counts —
    no document text ever re-shuffles.

    ``max_shingle_df``: the scale guard. A boilerplate shingle shared by
    10M documents creates a 10M-row posting list and a quadratic
    candidate blowup inside the self-join. With a cap, shingles whose
    document frequency exceeds it are removed from the universe BEFORE
    the self-join — consistently, from both the intersection counts and
    the per-doc sizes, so the returned ``jaccard`` is the exact Jaccard
    over the capped shingle universe (stop-shingles carry no
    discriminative signal anyway). The hot-shingle list is tiny by
    construction (only hashes with DF > cap) and is broadcast; the
    posting table never shuffles for the filter. The number of dropped
    posting rows rides the first action as an Observation and is
    logged lazily — no eager job at construction (ADVICE r4). Default
    ``DEFAULT_MAX_BUCKET`` (10k): a shingle shared by >10k documents is
    boilerplate by any reasonable prior AND sits one equi-join away from
    a 10⁸-row blowup; ``None`` is the explicit opt-out restoring exact
    full-universe Jaccard. No test-scale shingle approaches the default,
    so the small-n SQL oracle is unaffected.
    """
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("sh"),
    ).select("id", F.xxhash64("sh").alias("shash"))
    # cache the posting list ONCE: it feeds three plan branches (a-side,
    # b-side, per-doc sizes) and Spark does not share subtrees across
    # self-join branches — without this the shingling runs 3×. persist()
    # (not eager checkpoint) so the first action computes it once and the
    # sibling stages read cache; production writes the (id, shingle_hash)
    # table once and joins against it. The persisted frame is an INTERNAL
    # derived plan, never the caller's input. Pass a list as
    # ``cache_handle`` to receive it and unpersist deterministically once
    # the result is consumed; otherwise the ContextCleaner reclaims the
    # blocks when the frames are dropped.
    shingled = shingled.persist()
    if cache_handle is not None:
        cache_handle.append(shingled)

    if max_shingle_df is not None:
        hot = (
            shingled.groupBy("shash")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shash")
        )
        # Mark-join instead of anti-join so the drop count can be
        # observed on the JOIN OUTPUT — a main-lineage node. Observing
        # the broadcast build side is unreliable: when the observed
        # query stage finishes empty, AQE's empty-relation propagation
        # prunes the CollectMetrics node and the count is lost
        # (measured, r5 — see functions/observe._dropped_metric). The
        # mark column costs nothing extra: same broadcast, same probe,
        # and the metric (posting rows belonging to hot shingles) is
        # the more useful number anyway.
        obs = drop_observation("ngram_jaccard_pairs")
        marked = shingled.join(
            F.broadcast(hot.withColumn("_hot", F.lit(True))), "shash", "left"
        )
        marked = marked.observe(
            obs, F.count_if(F.col("_hot")).alias("dropped")
        )
        log_dropped_on_first_action(
            obs, "ngram_jaccard_pairs", max_shingle_df,
            "posting rows in hot shingles",
        )
        shingled = marked.filter(F.col("_hot").isNull()).drop("_hot")

    sizes = shingled.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))

    a = shingled.select(F.col("id").alias("id_a"), "shash")
    b = shingled.select(F.col("id").alias("id_b"), "shash")
    inter = (
        a.join(b, "shash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("double").alias("n_inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    # plain shuffle joins on id — the size table is one row PER DOCUMENT,
    # so a forced broadcast dies at billions of docs; AQE may still pick
    # broadcast when the corpus is genuinely small
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------- MinHash LSH
def _cap_buckets(
    tagged: DataFrame, keys: list[str], cap: int | None, who: str
) -> DataFrame:
    """Shared bucket-size guard for the banded self-joins: drop rows whose
    ``keys``-group exceeds ``cap`` members BEFORE candidate generation.

    Same plan shape as the shingle-DF guard in :func:`ngram_jaccard_pairs`:
    aggregate oversized keys (``groupBy(keys).count().filter(> cap)`` —
    map-side partial combine makes the shuffle payload one row per
    DISTINCT key per map partition, and only keys over the cap survive,
    so the built side is tiny by definition of "hot") → broadcast
    mark-join against the tagged rows → filter. The probe side never
    shuffles for the guard; the downstream self-join keeps its own
    exchange untouched. An earlier implementation computed group size
    with ``F.count().over(Window.partitionBy(*keys))`` to "reuse the
    join's exchange" — that reuse was real but the full window SORT of
    the banded table inside every partition cost ~1.9× warm on the
    flagship minhash path even when nothing was over the cap (measured,
    BENCH r5); the aggregate+broadcast shape pays a near-free partial
    agg instead. The dropped-row count is observed on the JOIN OUTPUT
    (a main-lineage node — observing the broadcast build side is lost
    to AQE empty-relation pruning when no key is hot, measured r5) and
    logged lazily on the caller's first action — never an eager job,
    never silent."""
    if cap is None:
        return tagged
    hot = (
        tagged.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > cap)
        .select(*keys)
        .withColumn("_hot", F.lit(True))
    )
    obs = drop_observation(who)
    marked = tagged.join(F.broadcast(hot), keys, "left").observe(
        obs, F.count_if(F.col("_hot")).alias("dropped")
    )
    log_dropped_on_first_action(obs, who, cap, "oversized-bucket member rows")
    return marked.filter(F.col("_hot").isNull()).drop("_hot")


def _minhash_matrix(shingle_hashes: list[np.ndarray], n_perm: int, seed: int) -> np.ndarray:
    """(n_docs, n_perm) uint64 minhash signatures via affine permutations."""
    rng = np.random.default_rng(seed)
    P = np.uint64((1 << 61) - 1)  # Mersenne prime
    a = rng.integers(1, P, size=n_perm, dtype=np.uint64)
    b = rng.integers(0, P, size=n_perm, dtype=np.uint64)
    out = np.full((len(shingle_hashes), n_perm), np.iinfo(np.uint64).max, dtype=np.uint64)
    for i, hs in enumerate(shingle_hashes):
        if len(hs) == 0:
            continue
        # (n_sh, n_perm): (a*h + b) mod P, min over shingles
        vals = (hs[:, None] * a[None, :] + b[None, :]) % P
        out[i] = vals.min(axis=0)
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """→ (id, sig array<long>) minhash signatures, Arrow-batched.

    Shingle base hashes are crc32 of the k-word shingle — identical in the
    pure-Python test oracle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sh_hashes = []
            for t in pdf[text_col]:
                words = [w for w in (t or "").lower().split() if w]
                sh = {
                    " ".join(words[i : i + k])
                    for i in range(max(len(words) - k + 1, 1))
                }
                sh_hashes.append(
                    np.array(
                        sorted(zlib.crc32(s.encode()) for s in sh if s), dtype=np.uint64
                    )
                )
            sig = _minhash_matrix(sh_hashes, n_perm, seed)
            # store as int64 (Spark long); values < 2^61 so no overflow
            yield pd.DataFrame(
                {id_col: pdf[id_col], "sig": list(sig.astype(np.int64))}
            )

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, sig array<long>"
    )


def minhash_lsh_pairs(
    sigs: DataFrame,
    id_col: str,
    n_perm: int = 64,
    n_bands: int = 16,
    min_est_jaccard: float | None = 0.5,
    cache_handle: list | None = None,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate pairs from banded minhash buckets + estimated Jaccard.

    rows-per-band = n_perm/n_bands; a pair collides in ≥1 band with
    probability 1-(1-j^r)^b. Estimated Jaccard = matching-component
    fraction of the two signatures (zip_with equality mean).
    ``min_est_jaccard=None`` returns the RAW candidate pairs
    (id_a, id_b) without attaching signatures or the estimate — the
    blocking output itself, for graders/post-processors.

    ``max_bucket_size``: the scale guard. A degenerate bucket (millions
    of near-empty docs sharing one signature band) explodes the
    self-join quadratically. (band, bucket) groups larger than the cap
    are skipped for candidate generation via the shared
    aggregate+broadcast-mark guard (:func:`_cap_buckets` — a near-free
    partial agg plus a map-side probe; no window sort, no extra
    shuffle of the banded rows); the dropped-row count is observed on
    the first action and logged — never silent, never an eager job. Members of a skipped bucket can still pair
    through their other n_bands−1 bands; true mass-duplicates should be
    collapsed by an exact digest ``groupBy`` FIRST (the
    ``dedup_exact_groups`` query), which is both cheaper and exact for
    that case. Default ``DEFAULT_MAX_BUCKET``
    (10k, ~5·10⁷ pairs bound per bucket); ``None`` is the explicit
    opt-out for exact runs.

    Shuffle discipline (the 100-TB plan): the banded table that feeds
    the self-join carries ONLY ``(id, band, bucket)`` — 24 bytes/row —
    never the signature array (~512 bytes at n_perm=64). Signatures are
    attached AFTER candidate generation by joining the (few) surviving
    ``(id_a, id_b)`` pairs back to the cached signature table, so the
    wide arrays ride exactly two id-keyed joins over the pair table
    instead of 2·n_bands shuffled copies per document. Band bucket ids
    are ``xxhash64`` over the signature slice directly (arrays are
    hashable in Spark ≥3.0) — measured ~30% cheaper than hashing a
    string rendering, and only grouping equality matters for bucket ids
    (the small-n twin oracle derives candidates by band-slice equality,
    not by the hash value).

    INTERNAL projections are cached, never the caller's frame
    (persisting an input is a visible side effect the caller may not
    want): the signature projection (both est-jaccard branches and the
    banding read it; Spark would otherwise run the signature UDF three
    times) and the narrow banded table (the cap guard's aggregate and
    both self-join branches read it — one band-hash computation total).
    ``cache_handle`` (a list) receives the persisted frames for
    deterministic unpersist by the caller.
    """
    sigs = sigs.select(F.col(id_col), F.col("sig")).persist()
    if cache_handle is not None:
        cache_handle.append(sigs)
    r = n_perm // n_bands
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.xxhash64(F.slice("sig", b * r + 1, r), b),
            )
        ).alias("band", "bucket"),
    ).persist()
    if cache_handle is not None:
        cache_handle.append(banded)
    banded = _cap_buckets(banded, ["band", "bucket"], max_bucket_size, "minhash_lsh_pairs")
    a = banded.select("band", "bucket", F.col("id").alias("id_a"))
    b = banded.select("band", "bucket", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if min_est_jaccard is None:
        # raw blocking output: (id_a, id_b) candidates only. Callers that
        # grade or post-process the BLOCKING itself (blocking_quality)
        # don't pay the two signature re-joins and the zip_with estimate
        # for a column they'd discard.
        return pairs
    sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1.0).otherwise(0.0)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.lit(float(n_perm))
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("id_a", "id_b", "est_jaccard")
    )


# ------------------------------------------------------------------- SimHash
def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, seed: int = 42
) -> DataFrame:
    """→ (id, simhash long): 64-bit SimHash over word tokens (crc32-seeded
    per-word 64-bit hashes via two crc32 halves)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for t in pdf[text_col]:
                words = [w for w in (t or "").lower().split() if w]
                acc = np.zeros(64, dtype=np.int64)
                for w in words:
                    wb = w.encode()
                    h = (zlib.crc32(wb, seed) << 32) | zlib.crc32(wb, seed + 1)
                    for bit in range(64):
                        acc[bit] += 1 if (h >> bit) & 1 else -1
                sh = 0
                for bit in range(64):
                    if acc[bit] > 0:
                        sh |= 1 << bit
                # to signed int64
                out.append(sh - (1 << 64) if sh >= (1 << 63) else sh)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, simhash long"
    )


def simhash_near_pairs(
    sigs: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    cache_handle: list | None = None,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Pairs within hamming distance ≤ max_hamming via banded blocking.

    By pigeonhole, hamming < n_bands ⇒ at least one (64/n_bands)-bit band
    is identical — candidates join on (band, chunk), then exact hamming
    (bit_count of xor) filters. Choose n_bands > max_hamming for a
    completeness guarantee; no all-pairs join ever runs.

    ``max_bucket_size``: same scale guard, default, and lazy-logging
    contract as :func:`minhash_lsh_pairs` — (band, chunk) groups larger
    than the cap are skipped (a million empty docs share simhash 0 and
    would pair quadratically; collapse those with an exact digest
    ``groupBy`` first). ``None`` = explicit opt-out
    (pigeonhole completeness guarantee fully intact).

    An internal projection of the signatures is cached before the
    self-join (same rationale and cache_handle contract as
    minhash_lsh_pairs: both branches would re-run the signature UDF).
    """
    sigs = sigs.select(F.col(id_col), F.col("simhash")).persist()
    if cache_handle is not None:
        cache_handle.append(sigs)
    assert 64 % n_bands == 0, "n_bands must divide 64"
    bits = 64 // n_bands
    mask = (1 << bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), i * bits).bitwiseAND(F.lit(mask)).alias("chunk"),
            )
            for i in range(n_bands)
        ]
    )
    tagged = sigs.select(
        F.col(id_col).alias("id"), "simhash", F.explode(bands).alias("bb")
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk"))
    tagged = _cap_buckets(tagged, ["band", "chunk"], max_bucket_size, "simhash_near_pairs")
    a = tagged.select("band", "chunk", F.col("id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = tagged.select("band", "chunk", F.col("id").alias("id_b"), F.col("simhash").alias("h_b"))
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------- blocked edit distance
def levenshtein_pairs_blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Pairs (id_a < id_b) within Levenshtein distance ≤ ``max_dist`` via
    segment blocking — the dedup family's string-metric member at scale
    (reference-semantics anchor: the fuzzy-grouping role of
    /root/reference/src/model.py:20-23). Never runs an all-pairs join.

    Candidate generation is PassJoin-style (Li, Deng, Feng: "PassJoin: a
    partition-based method for similarity joins", PVLDB 2011 — public
    literature) and COMPLETE, so the output is exactly the all-pairs
    result:

    * every string of length l ≥ d+1 is partitioned into m = d+1
      contiguous segments (first l mod m segments one char longer). By
      pigeonhole, ≤ d edits leave ≥ 1 segment of the INDEX string
      untouched, and that segment appears verbatim in the other string
      shifted by at most d positions (≤ d net insertions/deletions can
      precede it).
    * index side emits its m segments keyed (own length, segment idx,
      segment text); probe side emits, for each candidate partner length
      l' ∈ [l−d, l+d] (l' ≥ d+1), each segment slot, every substring of
      the slot's length within ±d of the slot's start — ≈ (d+1)²(2d+1)
      short probes per string (75 at d=2). An equi-join on the
      three-part key yields candidates; ``F.levenshtein`` re-checks
      exactly. The join key embeds the length, so the length filter
      |l_a − l_b| ≤ d is free.
    * strings of length ≤ d (can only match strings of length ≤ 2d — a
      degenerate, normally-empty set) pair through a separate broadcast
      nested-loop branch. That branch is inherently all-pairs (almost
      every short-short pair is within d edits), so its loop PRODUCT is
      capped at ``max_bucket_size²``: a hundred 1-char codes against
      20k 3-char codes (a 2M-row loop) survives intact, while a corpus
      of a million empty normalized texts drops the branch (logged)
      instead of running a 10¹²-row nested loop; ``None`` opts out.

    Shuffle payload is (key, id, text) where texts are the short strings
    record linkage runs on (names, titles, SKUs — this operator is NOT
    for documents; near-dup long text belongs to the minhash/simhash
    family). ``max_bucket_size`` caps degenerate blocking keys (e.g. the
    segment "aaa" in a corpus of repeated characters) with the shared
    aggregate+broadcast-mark guard + lazy drop logging; both guard sides
    are map-only derivations of the same base scan, so the guard adds no
    shuffle of the text rows. Null texts are treated as empty strings.
    """
    d = max_dist
    m = d + 1
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
    ).withColumn("l", F.length("t"))
    longs = base.filter(F.col("l") >= m)

    # ---- index side: own segments at their true positions
    idx = longs.select(
        F.col("id").alias("id_i"),
        F.col("t").alias("t_i"),
        F.col("l").alias("kl"),
        F.explode(F.sequence(F.lit(0), F.lit(d))).alias("ki"),
    )
    qi = F.floor(F.col("kl") / m)
    ri = F.col("kl") % m
    st_i = F.col("ki") * qi + F.least(F.col("ki"), ri)
    ln_i = qi + F.when(F.col("ki") < ri, 1).otherwise(0)
    idx = idx.select(
        "id_i", "t_i", "kl", "ki", F.substring("t_i", st_i + 1, ln_i).alias("ks")
    )

    # ---- probe side: all substrings a partner's unedited segment could be
    probe = (
        longs.select(
            F.col("id").alias("id_p"),
            F.col("t").alias("t_p"),
            F.col("l").alias("lp"),
            F.explode(
                F.sequence(F.col("l") - d, F.col("l") + d)
            ).alias("kl"),
        )
        .filter(F.col("kl") >= m)
        .select(
            "id_p", "t_p", "lp", "kl",
            F.explode(F.sequence(F.lit(0), F.lit(d))).alias("ki"),
        )
    )
    qp = F.floor(F.col("kl") / m)
    rp = F.col("kl") % m
    st_p = F.col("ki") * qp + F.least(F.col("ki"), rp)
    ln_p = qp + F.when(F.col("ki") < rp, 1).otherwise(0)
    probe = (
        probe.withColumn("ln", ln_p)
        .withColumn("lo", F.greatest(F.lit(0), st_p - d))
        .withColumn("hi", F.least(F.col("lp") - F.col("ln"), st_p + d))
        .filter(F.col("hi") >= F.col("lo"))  # sequence(lo>hi) would DESCEND
        .select(
            "id_p", "t_p", "kl", "ki", "ln",
            F.explode(F.sequence("lo", "hi")).alias("p"),
        )
        .select(
            "id_p", "t_p", "kl", "ki",
            F.substring("t_p", F.col("p") + 1, F.col("ln")).alias("ks"),
        )
    )

    keys = ["kl", "ki", "ks"]
    idx = _cap_buckets(idx, keys, max_bucket_size, "levenshtein_pairs_blocked")
    probe = _cap_buckets(probe, keys, max_bucket_size, "levenshtein_pairs_blocked")

    swap = F.col("id_i") < F.col("id_p")
    main = (
        idx.join(probe, keys)
        .filter(F.col("id_i") != F.col("id_p"))
        .select(
            F.least("id_i", "id_p").alias("id_a"),
            F.greatest("id_i", "id_p").alias("id_b"),
            F.when(swap, F.col("t_i")).otherwise(F.col("t_p")).alias("t_a"),
            F.when(swap, F.col("t_p")).otherwise(F.col("t_i")).alias("t_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    # strings shorter than the segment count: ≤ d chars, partner ≤ 2d.
    # This branch is a nested loop by nature (almost every short-short
    # pair is within distance d). Cap the loop's PRODUCT, not each side:
    # a hundred 1-char SKUs against 20k 3-char SKUs is a trivial 2M-row
    # loop and must survive, but a million empty normalized texts
    # squaring themselves must not. Both side counts arrive as 1-row
    # aggregates cross-joined broadcast onto the rows — fully lazy, no
    # eager job at construction. When n_shorts·n_near exceeds
    # ``max_bucket_size²`` the WHOLE branch drops (every member pairs
    # with every other, so there is no principled subset to keep), with
    # the dropped short-side rows observed/logged like every capped
    # path. The ``F.broadcast(shorts)`` hint below stays safe under the
    # product cap alone: shorts ⊆ near_short (l≤d ⇒ l≤2d), so
    # n_s² ≤ n_s·n_n ≤ cap² ⇒ the surviving broadcast side holds at
    # most ``max_bucket_size`` strings of ≤ d chars.
    shorts = base.filter(F.col("l") <= d).select(
        F.col("id").alias("id_i"), F.col("t").alias("t_i")
    )
    near_short = base.filter(F.col("l") <= 2 * d).select(
        F.col("id").alias("id_p"), F.col("t").alias("t_p")
    )
    if max_bucket_size is not None:
        product_cap = max_bucket_size * max_bucket_size
        counts = F.broadcast(
            shorts.agg(F.count(F.lit(1)).alias("_n_s")).crossJoin(
                near_short.agg(F.count(F.lit(1)).alias("_n_n"))
            )
        )
        over = (F.col("_n_s") * F.col("_n_n")) > F.lit(product_cap)
        obs = drop_observation("levenshtein_pairs_blocked")
        shorts = (
            shorts.crossJoin(counts)
            .observe(obs, F.count_if(over).alias("dropped"))
            .filter(~over)
            .drop("_n_s", "_n_n")
        )
        log_dropped_on_first_action(
            obs, "levenshtein_pairs_blocked", product_cap,
            "short-string rows in an over-product nested loop",
        )
        near_short = (
            near_short.crossJoin(counts).filter(~over).drop("_n_s", "_n_n")
        )
    short_pairs = (
        F.broadcast(shorts)
        .join(near_short, F.col("id_i") != F.col("id_p"))
        .select(
            F.least("id_i", "id_p").alias("id_a"),
            F.greatest("id_i", "id_p").alias("id_b"),
            F.when(swap, F.col("t_i")).otherwise(F.col("t_p")).alias("t_a"),
            F.when(swap, F.col("t_p")).otherwise(F.col("t_i")).alias("t_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    return (
        main.unionByName(short_pairs)
        .withColumn("edit_dist", F.levenshtein("t_a", "t_b").cast("int"))
        .filter(F.col("edit_dist") <= d)
        .select("id_a", "id_b", "edit_dist")
    )


# ----------------------------------------------------- eval decontamination
def cross_split_contamination(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str,
    train: str = "train",
    holdout: tuple[str, ...] = ("val", "test"),
    k: int = 5,
) -> DataFrame:
    """Training docs that share ≥1 k-word shingle with ANY holdout doc —
    the standard eval-set decontamination pass an LLM training pipeline
    runs before every data release.

    Inverted-index shape: both sides explode to (shingle_hash, id); the
    holdout side collapses to DISTINCT hashes (eval sets are small →
    broadcast), so the join is a broadcast semi-probe on the train
    posting table — the 10^12-doc side shuffles nothing. Returns
    (id, n_shared) where n_shared counts the train doc's distinct
    shingles that also occur anywhere in the holdout.
    """
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.col(split_col).alias("split"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("sh"),
    ).select("id", "split", F.xxhash64("sh").alias("shash"))
    train_side = shingled.filter(F.col("split") == train).select("id", "shash")
    hold = (
        shingled.filter(F.col("split").isin(list(holdout)))
        .select("shash")
        .distinct()
    )
    return (
        train_side.join(F.broadcast(hold), "shash")
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


# ----------------------------------------------------- semantic dedup
def _semantic_keep_mask(u: np.ndarray, threshold: float) -> np.ndarray:
    """Greedy leader scan over unit rows ``u`` (n, d) float64, already in
    processing order: keep row i iff its cosine to every previously-KEPT
    row stays below ``threshold``.

    This function IS the operator's specification (shared by the Spark
    grouped-map path and the VALUES oracle twin, like the PQ LUT
    kernel): the kept-set matvec at step i has identical shape and
    dtype on both sides, so the float64 results are bit-equal and the
    keep decisions cannot diverge across engines.
    """
    n = len(u)
    keep = np.zeros(n, dtype=bool)
    # preallocated kept-row buffer: buf[:k] is a contiguous view with the
    # same shape/dtype/values a fancy-indexed copy would have, so the
    # dgemv result is unchanged — but each kept row is copied ONCE
    # (O(n·d)) instead of re-materializing the whole kept set per step
    # (O(n²·d) allocations on a full 4096-member cluster)
    buf = np.empty_like(u)
    k = 0
    for i in range(n):
        if k:
            sims = buf[:k] @ u[i]
            if float(sims.max()) >= threshold:
                continue
        keep[i] = True
        buf[k] = u[i]
        k += 1
    return keep


def semantic_dedup_keep(
    spark,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    threshold: float = 0.8,
    max_cluster_size: int | None = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (k-means + within-cluster
    greedy cosine pruning; Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication").

    Every vector is assigned to its nearest centroid (map-only broadcast
    matmul — :func:`similarity.ivf_assign`); within each cluster,
    members are scanned in ascending id order and an item is KEPT only
    when its cosine to every already-kept member stays below
    ``threshold``. The cluster is the parallel unit: at 100 TB you size
    k ~ sqrt(n) so clusters stay bounded, and the greedy scan's
    O(|cluster|·|kept|) cost never crosses clusters. Clusters larger
    than ``max_cluster_size`` (default ON, per the scale-guard policy)
    are deterministically sub-sharded by crc32(id) % ceil(n/cap) before
    the scan — no pair is compared across sub-shards (bounded recall
    loss instead of an unbounded quadratic task; ``None`` opts out).
    The shard split is a pure function of the ids, so results stay
    partition-invariant.

    Returns (id, cluster, kept) — every input id with a non-null vector
    appears exactly once (null-vector rows are excluded before
    assignment, the same guard every quantized path applies; callers
    who must account for them anti-join the output against the input).
    Reference-semantics anchor: this generalizes the reference's
    "embed then keep the most relevant" retrieval core
    (/root/reference/src/model.py:20-23) from query-time ranking to
    corpus-time pruning.
    """
    from cdrc_semantic_search_spark.operators.similarity import (
        _unit_rows,
        ivf_assign,
    )

    tagged = ivf_assign(spark, df, id_col, vec_col, centroids)
    if max_cluster_size is not None:
        # per-cluster sizes: ≤ |centroids| rows by construction → the
        # join back is broadcast-sized whatever the corpus scale
        sizes = tagged.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("_cl_n")
        )
        tagged = tagged.join(F.broadcast(sizes), "bucket")
        n_shards = F.ceil(F.col("_cl_n") / F.lit(max_cluster_size))
        tagged = tagged.withColumn(
            "shard",
            (F.crc32(F.col(id_col).cast("string")) % n_shards).cast("int"),
        ).drop("_cl_n")
    else:
        tagged = tagged.withColumn("shard", F.lit(0))

    id_type = dict(df.dtypes)[id_col]
    thr = float(threshold)

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        v = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
        u = _unit_rows(v).astype(np.float64)
        keep = _semantic_keep_mask(u, thr)
        return pd.DataFrame(
            {
                "id": pdf[id_col],
                "cluster": pdf["bucket"].astype("int32"),
                "kept": keep,
            }
        )

    return tagged.groupBy("bucket", "shard").applyInPandas(
        scan, schema=f"id {id_type}, cluster int, kept boolean"
    )


# ------------------------------------------------- span-level dedup
def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Repeated token-span detection — the SPAN-level member of the dedup
    family (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022 — public literature: duplicated SUBSTRINGS
    matter even when documents as wholes are unique; memorized spans
    come from repeated spans, not repeated documents).

    Every ``span_tokens``-token sliding window of the normalized token
    stream (functions.text.tokens — lowercase, [^a-z0-9]+ splits) is a
    candidate; windows occurring ≥ ``min_occurrences`` times corpus-wide
    are emitted as ``(span, n_docs, n_occurrences)``. Documents shorter
    than ``span_tokens`` contribute nothing (no degenerate whole-doc
    windows — a short doc is the DOCUMENT-level family's job).

    Scale shape: windows explode map-side; the one shuffle groups by
    ``xxhash64(span)`` — 8 bytes — with map-side partial aggregation
    (within a partition, every occurrence of a hot boilerplate span
    collapses to one row before the exchange); the span TEXT reaches the
    reducer only as the ``min`` representative of each group, so a span
    repeated a million times ships its bytes once per map partition, not
    per occurrence. Consumers removing spans re-join on the hash, never
    the text. Counting both total occurrences and distinct docs costs
    one pass (count + count_distinct in the same aggregate).

    Collision tradeoff: grouping keys on ``xxhash64(span)`` — a 64-bit
    collision silently merges two distinct spans' counts and emits only
    ``min(span)``. Expected collisions ≈ n²/2^65: negligible through
    ~10^8 distinct spans (<0.003 expected), material by ~10^10. For the
    full-corpus-scale path, widen the key to ``(xxhash64(span),
    length(span))`` or md5 — and downstream consumers that remove spans
    by re-joining on the HASH should join on the span string instead,
    so a collision can never strip innocent text.
    """
    from cdrc_semantic_search_spark.functions.text import tokens

    toks = tokens(F.col(text_col))
    n = F.size(toks)
    win = F.transform(
        F.sequence(F.lit(1), n - F.lit(span_tokens - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, span_tokens)),
    )
    spans = (
        df.filter(n >= span_tokens)
        .select(F.col(id_col).alias("id"), F.explode(win).alias("span"))
    )
    return (
        spans.groupBy(F.xxhash64("span").alias("span_hash"))
        .agg(
            F.min("span").alias("span"),
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") >= min_occurrences)
        .select("span", "n_docs", "n_occurrences")
    )


# --------------------------------------------------- blocking evaluation
def blocking_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    truth_threshold: float = 0.5,
    n_perm: int = 64,
    n_bands: int = 16,
    cache_handle: list | None = None,
) -> DataFrame:
    """Pair-completeness / reduction-ratio evaluation of the MinHash+LSH
    BLOCKING against exact shingle-Jaccard ground truth — the two
    numbers entity-resolution literature grades candidate generation on
    (Christen, "Data Matching", 2012: PC = recall of true pairs
    surviving blocking; RR = fraction of the all-pairs square the
    blocking avoided). Run on a labeled sample before trusting a
    band/permutation configuration at corpus scale.

    → one row: (n_docs, n_truth, n_cand, n_hit, pair_completeness,
    reduction_ratio).

    Composition, fully lazy: truth = :func:`ngram_jaccard_pairs` with
    the guard OFF (exact all-truth on the sample); candidates =
    :func:`minhash_lsh_pairs` with ``min_est_jaccard=None`` (the raw
    banded blocking output — no signature re-join, no estimate column
    — the thing being graded);
    hits = an equi-join of the two pair tables; every count lands as a
    1-row aggregate cross-joined broadcast (no driver collect, no eager
    job at construction). The doc count rides the same way for the
    C(n,2) denominator. ``cache_handle`` receives the composed
    operators' persisted internals (posting list, signatures, banded
    table) for deterministic unpersist after the row is consumed.
    """
    truth = ngram_jaccard_pairs(
        df, id_col, text_col, k=k, threshold=truth_threshold,
        max_shingle_df=None, cache_handle=cache_handle,
    ).select("id_a", "id_b")
    sigs = minhash_signatures(df, id_col, text_col, k=k, n_perm=n_perm)
    cand = minhash_lsh_pairs(
        sigs, id_col, n_perm=n_perm, n_bands=n_bands,
        min_est_jaccard=None, max_bucket_size=None,
        cache_handle=cache_handle,
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_hit = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    allp = (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("double")
    return (
        n_docs.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_docs", "n_truth", "n_cand", "n_hit",
            F.round(F.col("n_hit") / F.col("n_truth"), 6).alias(
                "pair_completeness"
            ),
            F.round(F.lit(1.0) - F.col("n_cand") / allp, 6).alias(
                "reduction_ratio"
            ),
        )
    )
