from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.operators import (
    canonicalize,
    chunker,
    dedup,
    rollup,
    similarity,
    text_analysis,
)


# ------------------------------------------------------------------- chunker
def test_chunk_words_windows(spark):
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "id long, text string")
    out = chunker.chunk_words(df, "id", "text", chunk_size=4, overlap=1).collect()
    chunks = [r.chunk_text for r in sorted(out, key=lambda r: r.chunk_idx)]
    assert chunks[0] == "w0 w1 w2 w3"
    assert chunks[1] == "w3 w4 w5 w6"  # stride 3, overlap 1
    assert chunks[-1].endswith("w9")
    # every token appears; overlap tokens repeat
    assert set(" ".join(chunks).split()) == set(text.split())


def test_chunk_words_short_text_single_chunk(spark):
    df = spark.createDataFrame([(1, "a b")], "id long, text string")
    out = chunker.chunk_words(df, "id", "text", chunk_size=256, overlap=32).collect()
    assert len(out) == 1 and out[0].chunk_text == "a b"


def test_chunk_params_validated():
    """overlap >= chunk_size makes the stride non-positive — documents would
    silently vanish from posexplode output; must raise instead (ADVICE.md)."""
    with pytest.raises(ValueError):
        chunker.chunk_words_col(F.col("text"), chunk_size=4, overlap=4)
    with pytest.raises(ValueError):
        chunker.chunk_words_col(F.col("text"), chunk_size=4, overlap=7)
    with pytest.raises(ValueError):
        chunker.chunk_words_col(F.col("text"), chunk_size=4, overlap=-1)
    with pytest.raises(ValueError):
        chunker.pack_sentences("a b c", chunk_size=2, overlap=2)
    chunker.chunk_words_col(F.col("text"), chunk_size=4, overlap=0)  # ok


def test_word_shingles_degenerate_texts(spark):
    """Empty/whitespace texts must produce ZERO shingles (not ['']) so two
    empty docs don't surface as Jaccard-1.0 near-dups; short texts shingle
    to their full token join — matching the pure-Python minhash twin."""
    from cdrc_semantic_search_spark.functions.text import word_shingles

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "only two"), (4, None), (5, "a b c d")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", word_shingles(F.col("text"), 3).alias("sh")).collect()
    }
    assert out[1] == [] and out[2] == [] and out[4] == []
    assert out[3] == ["only two"]
    assert out[5] == ["a b c", "b c d"]
    # consequence: empty docs never pair up in ngram jaccard
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.5).collect()
    assert all({r.id_a, r.id_b} != {1, 2} for r in pairs)


def test_pack_sentences_boundaries():
    text = "One two three. Four five. Six seven eight nine."
    chunks = chunker.pack_sentences(text, chunk_size=6, overlap=2)
    # chunk 1: first two sentences (5 tokens); adding 3rd would exceed 6
    assert chunks[0] == "One two three. Four five."
    # next chunk starts with 2-token overlap tail
    assert chunks[1].startswith("Four five.")


def test_chunk_sentences_spark_matches_pure(spark):
    texts = [
        "Alpha beta gamma. Delta epsilon. Zeta eta theta iota kappa.",
        "Single sentence only here.",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = (
        chunker.chunk_sentences(df, "id", "text", chunk_size=5, overlap=1)
        .toPandas()
        .sort_values(["id", "chunk_idx"])
    )
    for i, t in enumerate(texts):
        want = chunker.pack_sentences(t, 5, 1)
        assert list(got[got["id"] == i]["chunk_text"]) == want


# -------------------------------------------------------------------- rollup
def test_group_rollup_deterministic_order(spark):
    rows = [
        ("d1", 2, 0.5, "second"),
        ("d1", 1, 0.9, "first"),
        ("d2", 1, 0.1, "only"),
    ]
    df = spark.createDataFrame(rows, "doc string, rank int, score double, chunk string")
    out = {
        r["doc"]: r
        for r in rollup.group_rollup(
            df.repartition(4), ["doc"], "score", "chunk", ["rank"]
        ).collect()
    }
    assert out["d1"]["score"] == 0.9
    assert out["d1"]["text"].split("\n--------------------\n") == ["first", "second"]
    assert out["d1"]["n_chunks"] == 2
    assert out["d2"]["text"] == "only"


# ---------------------------------------------------------------- similarity
@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(0)
    mat = rng.standard_normal((40, 8)).astype(np.float32)
    pdf = pd.DataFrame({"vid": range(40), "vec": [list(map(float, v)) for v in mat]})
    return spark.createDataFrame(pdf), mat


def _brute_topk(mat, k):
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = unit @ unit.T
    out = {}
    for q in range(len(mat)):
        order = sorted(range(len(mat)), key=lambda c: (-sims[q, c], c))
        out[q] = [(c, sims[q, c]) for c in order[:k]]
    return out


def test_topk_exact_matches_numpy(spark, vec_df):
    df, mat = vec_df
    q = df.select(F.col("vid").alias("q_id"), F.col("vec").alias("q_vec")).filter("q_id < 5")
    c = df.select(F.col("vid").alias("c_id"), F.col("vec").alias("c_vec"))
    got = similarity.topk_cosine_exact(q, c, k=3).toPandas()
    want = _brute_topk(mat, 3)
    for qid in range(5):
        rows = got[got["q_id"] == qid].sort_values("rank")
        assert list(rows["c_id"]) == [c for c, _ in want[qid]]
        assert np.allclose(rows["score"], [s for _, s in want[qid]], atol=1e-5)


def test_topk_broadcast_matches_exact(spark, vec_df):
    df, mat = vec_df
    q = df.select(F.col("vid").alias("q_id"), F.col("vec").alias("q_vec")).filter("q_id < 5")
    got = similarity.topk_cosine_broadcast(
        spark, q, np.arange(40), mat, k=3
    ).toPandas()
    want = _brute_topk(mat, 3)
    for qid in range(5):
        rows = got[got["q_id"] == qid].sort_values("rank")
        assert list(rows["c_id"]) == [c for c, _ in want[qid]]


def test_lsh_pairs_subset_of_true_pairs_and_finds_clones(spark):
    # build vectors with two exact-duplicate groups + noise
    rng = np.random.default_rng(1)
    base = rng.standard_normal((10, 8)).astype(np.float32)
    mat = np.vstack([base, base[:2] + rng.standard_normal((2, 8)).astype(np.float32) * 0.01])
    pdf = pd.DataFrame({"vid": range(12), "vec": [list(map(float, v)) for v in mat]})
    df = spark.createDataFrame(pdf)
    pairs = similarity.cosine_pairs_lsh(df, "vid", "vec", dim=8, threshold=0.99).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    assert (0, 10) in found and (1, 11) in found
    # every reported pair genuinely satisfies the threshold
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for a, b in found:
        assert unit[a] @ unit[b] >= 0.99 - 1e-6


def test_cosine_pairs_lsh_leaves_nothing_cached(spark):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    rng = np.random.default_rng(2)
    mat = rng.standard_normal((12, 8))
    df = spark.createDataFrame(
        pd.DataFrame({"vid": range(12), "vec": [list(map(float, v)) for v in mat]})
    )
    similarity.cosine_pairs_lsh(df, "vid", "vec", dim=8, threshold=0.5).collect()
    assert jsc.getPersistentRDDs().size() == before


# --------------------------------------------------------------------- dedup
def test_ngram_jaccard_pairs(spark):
    a = "the quick brown fox jumps over the lazy dog today"
    b = "the quick brown fox jumps over the lazy dog tonight"
    rows = [(1, a), (2, b), (3, "completely unrelated text about spark engines")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.5).toPandas()
    assert set(zip(out["id_a"], out["id_b"])) == {(1, 2)}
    # 8 shared of 8 shingles each... compute: doc has 8 shingles, share 7
    assert 0.5 <= out["jaccard"].iloc[0] <= 1.0


def test_minhash_lsh_finds_near_dupes(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok30", "tokX")  # one token changed
    far = " ".join(f"z{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sigs = dedup.minhash_signatures(df, "doc_id", "text", k=3, n_perm=64)
    pairs = dedup.minhash_lsh_pairs(sigs, "doc_id", n_perm=64, n_bands=16).toPandas()
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_near_pairs(spark):
    # skewed word frequencies → small hamming drift when one occurrence is
    # dropped (empirically 7 bits for this corpus); 8 bands guarantee
    # detection of any pair with hamming < 8
    words = [f"w{i}" for i in range(20)]
    base = " ".join(w for i, w in enumerate(words) for _ in range(i + 1))
    near = base.rsplit(" ", 1)[0]  # drop one occurrence of the last word
    far = " ".join(f"q{i}" for i in range(40))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id long, text string")
    sigs = dedup.simhash_signatures(df, "doc_id", "text")
    got = dedup.simhash_near_pairs(sigs, "doc_id", max_hamming=7, n_bands=8).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    assert got.set_index(["id_a", "id_b"]).loc[(1, 2), "hamming"] == 7





def test_dedup_scale_caps(spark):
    """The scale guards: a document-frequency cap removes stop-shingles
    consistently (Jaccard stays exact over the capped universe), and a
    bucket-size cap skips degenerate buckets without touching the rest."""
    # every doc shares the boilerplate prefix; only 1 and 2 share content
    boiler = "copyright acme corp all rights reserved "
    rows = [
        (1, boiler + "alpha beta gamma delta epsilon zeta"),
        (2, boiler + "alpha beta gamma delta epsilon eta"),
        (3, boiler + "one two three four five six"),
        (4, boiler + "seven eight nine ten eleven twelve"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap at 1: boilerplate shingles (DF=4) drop; content shingles (DF<=2)
    # stay, so (1,2) still pairs and its jaccard is EXACT over the capped
    # universe — strictly higher than uncapped (the shared boilerplate no
    # longer dilutes the union)
    capped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.3, max_shingle_df=2
    ).toPandas()
    uncapped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.3
    ).toPandas()
    assert (1, 2) in set(zip(capped["id_a"], capped["id_b"]))
    j_cap = capped.set_index(["id_a", "id_b"]).loc[(1, 2), "jaccard"]
    j_unc = uncapped.set_index(["id_a", "id_b"]).loc[(1, 2), "jaccard"]
    assert j_cap > 0 and j_unc > 0

    # minhash bucket cap: identical docs 10..14 form one 5-member bucket
    # per band; cap=4 skips those buckets entirely, while the separate
    # near-pair (20, 21) still surfaces through its own small buckets
    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok30", "tokX")
    dup_rows = [(i, "spam spam spam identical") for i in range(10, 15)]
    df2 = spark.createDataFrame(
        dup_rows + [(20, base), (21, near)], "doc_id long, text string"
    )
    sigs = dedup.minhash_signatures(df2, "doc_id", "text", k=3, n_perm=64)
    got = dedup.minhash_lsh_pairs(
        sigs, "doc_id", n_perm=64, n_bands=16, max_bucket_size=4
    ).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    assert (20, 21) in pairs
    assert not any(10 <= a < 15 and 10 <= b < 15 for a, b in pairs)
    # without the cap the duplicate block pairs quadratically
    allp = dedup.minhash_lsh_pairs(sigs, "doc_id", n_perm=64, n_bands=16).toPandas()
    assert {(a, b) for a, b in zip(allp["id_a"], allp["id_b"]) if a >= 10 and b < 20}

    # simhash bucket cap: same contract
    ssigs = dedup.simhash_signatures(df2, "doc_id", "text")
    sgot = dedup.simhash_near_pairs(
        ssigs, "doc_id", max_hamming=7, n_bands=8, max_bucket_size=4
    ).toPandas()
    spairs = set(zip(sgot["id_a"], sgot["id_b"]))
    assert not any(10 <= a < 15 and 10 <= b < 15 for a, b in spairs)


def test_levenshtein_blocked_equals_all_pairs(spark):
    """PassJoin-style segment blocking is COMPLETE: the blocked operator's
    output equals brute-force all-pairs Levenshtein on a corpus that
    exercises every branch — the short-string broadcast path (len ≤ d),
    empty strings, nulls (→ empty), unicode, equal strings, and lengths
    straddling the |l_a − l_b| ≤ d boundary."""
    import itertools

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows = [
        (1, "kitten"), (2, "sitting"), (3, "kitchen"), (4, "mitten"),
        (5, ""), (6, "a"), (7, "ab"), (8, "abc"), (9, None),
        (10, "café"), (11, "cafe"), (12, "caffé"),
        (13, "kitten"),  # exact duplicate of 1
        (14, "abcdefghij"), (15, "abcdefgh"),  # length gap exactly d
        (16, "xyzxyzxyzxyz"),
    ]
    for d in (1, 2):
        got = dedup.levenshtein_pairs_blocked(
            spark.createDataFrame(rows, "id long, t string"),
            "id", "t", max_dist=d,
        ).toPandas()
        got_pairs = {
            (a, b): e for a, b, e in zip(got["id_a"], got["id_b"], got["edit_dist"])
        }
        want = {}
        for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
            e = lev(ta or "", tb or "")
            if e <= d:
                want[(ia, ib)] = e
        missing = set(want) - set(got_pairs)
        extra = set(got_pairs) - set(want)
        assert got_pairs == want, f"d={d}: missing={missing} extra={extra}"


def test_levenshtein_blocked_caps_degenerate_short_mass(spark):
    """The short-string branch is all-pairs by nature, so a degenerate
    mass of empty/near-empty texts must be dropped when the nested
    loop's PRODUCT exceeds max_bucket_size², not broadcast-nested-loop-
    joined; opt-out with None restores the pairs."""
    rows = [(i, "") for i in range(50)] + [(100, "kitten"), (101, "sitten")]
    df = spark.createDataFrame(rows, "id long, t string")
    capped = dedup.levenshtein_pairs_blocked(
        df, "id", "t", max_dist=2, max_bucket_size=10
    ).toPandas()
    # the 50-empty mass (50·52 > 10² product) is gone; the long pair stays
    assert set(zip(capped["id_a"], capped["id_b"])) == {(100, 101)}
    uncapped = dedup.levenshtein_pairs_blocked(
        df, "id", "t", max_dist=2, max_bucket_size=None
    ).toPandas()
    assert len(uncapped) == 50 * 49 // 2 + 1


def test_levenshtein_blocked_short_branch_small_product_survives(spark):
    """A lopsided-but-small short branch must NOT be wiped: 3 one-char
    codes against 20 three-char codes is a 3x23 = 69-row loop — under
    the 10² product cap even though the near-short side alone (23 rows)
    exceeds a naive per-side cap of 10. Pairs within distance d that
    involve a short string must survive."""
    rows = [(i, "a" * (i % 2 + 1)) for i in range(3)]          # len 1-2
    rows += [(10 + i, f"a{i:02d}") for i in range(20)]          # len 3
    df = spark.createDataFrame(rows, "id long, t string")
    got = dedup.levenshtein_pairs_blocked(
        df, "id", "t", max_dist=2, max_bucket_size=10
    ).toPandas()
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    # brute-force twin
    import itertools as it

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (ia, ib)
        for (ia, ta), (ib, tb) in it.combinations(rows, 2)
        if lev(ta, tb) <= 2
    }
    # EVERY short-involving pair survives (the old per-side cap wiped
    # them all: the near-short side alone is 23 > 10). The main-branch
    # len-3 pairs are a separate concern — all 20 strings share the
    # first-char segment "a", a >10-member blocking bucket the segment
    # guard legitimately caps — so assert containment, not equality.
    want_short = {(a, b) for a, b in want if a < 3}
    assert want_short and want_short <= got_pairs
    assert got_pairs <= want  # never an extra / wrong pair


def _wait_for_log(caplog, substr: str, timeout: float = 30.0) -> bool:
    """The capdrop logger runs on a daemon thread riding the first
    action; poll the captured records until it lands."""
    import time as _time

    deadline = _time.time() + timeout
    while _time.time() < deadline:
        if any(substr in r.getMessage() for r in caplog.records):
            return True
        _time.sleep(0.1)
    return False


def test_ngram_cap_drop_count_is_logged(spark, caplog):
    """Default-on capping must not be silent: the hot-shingle drop count
    rides the caller's first action and lands in the package log. The
    observed node is the mark-join OUTPUT (main lineage) — observing the
    broadcast build side loses the metric when AQE prunes an empty
    stage, which is why this test pins the end-to-end log, not just the
    filter."""
    import logging

    caplog.set_level(logging.INFO, logger="cdrc_semantic_search_spark")
    # hot boilerplate shared by all 20 docs (dropped by the cap) + a
    # pair-private bigram per (2i, 2i+1) couple so pairs SURVIVE the cap
    # — an all-empty final result would let AQE prune every metric copy
    # (that path is pinned by the pruned-empty test below)
    rows = [
        (str(i), f"common shared boilerplate prefix pair{i // 2}sig mark{i // 2}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", k=2, threshold=0.0, max_shingle_df=5
    )
    assert out.count() == 10  # the couples survive the capped universe
    assert _wait_for_log(
        caplog, "ngram_jaccard_pairs: dropped"
    ), "hot-shingle drop count never logged"


def test_capped_branch_pruned_empty_is_never_silent(spark, caplog):
    """When a capped branch ends EMPTY (everything dropped), AQE's
    empty-relation propagation can prune the observed node and the
    exact count is unrecoverable — the logger must then emit an explicit
    unavailable notice (or the exact count, if the metric survived);
    silence is the one unacceptable outcome."""
    import logging

    caplog.set_level(logging.INFO, logger="cdrc_semantic_search_spark")
    rows = [(i, "") for i in range(50)] + [(100, "kitten"), (101, "sitten")]
    df = spark.createDataFrame(rows, "id long, t string")
    got = dedup.levenshtein_pairs_blocked(
        df, "id", "t", max_dist=2, max_bucket_size=10
    ).toPandas()
    assert set(zip(got["id_a"], got["id_b"])) == {(100, 101)}
    assert _wait_for_log(
        caplog, "levenshtein_pairs_blocked:"
    ), "short-branch drop neither counted nor flagged unavailable"


# ------------------------------------------------------------- text analysis
def test_quality_and_language(spark):
    rows = [
        (1, "the cat sat on the mat and it was happy for a while"),
        (2, "le chat est dans la maison et il est dans le jardin"),
        (3, "!!! ??? ### $$$ %%%"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text_analysis.quality_features(df, "text").toPandas().set_index("doc_id")
    assert out.loc[1, "q_score"] > out.loc[3, "q_score"]
    langs = (
        text_analysis.detect_language(df, "text", out_col="lang")
        .select("doc_id", "lang")
        .toPandas()
        .set_index("doc_id")
    )
    assert langs.loc[1, "lang"] == "en"
    assert langs.loc[2, "lang"] == "fr"
    assert langs.loc[3, "lang"] == "und"


def test_parse_llm_response_matches_reference_semantics(spark):
    """F11 twin of streamlit_app.py:37-47: valid segments parse to
    (summary, relevance); segments missing either marker yield NULLs."""
    from cdrc_semantic_search_spark.functions.text import (
        LLM_RESPONSE_SEP,
        parse_llm_response,
    )

    segs = [
        "Title\nSummary: a short recap Relevance: high",
        "no markers at all",
        "Summary: only summary present",
        # adversarial: a 'Relevance: ' BEFORE the summary must not win —
        # both pieces parse from after the Summary marker (reference
        # chains .split('Summary: ')[1].split('Relevance: '))
        "Relevance: decoy Summary: real recap Relevance: high",
    ]
    composite = LLM_RESPONSE_SEP.join(segs)
    df = spark.createDataFrame([(composite,)], "resp string")
    exploded = df.select(F.explode(F.split("resp", "\\-{21}")).alias("one"))
    valid, summary, relevance = parse_llm_response(F.col("one"))
    out = exploded.select(
        valid.alias("valid"), summary.alias("summary"), relevance.alias("relevance")
    ).collect()
    assert [r.valid for r in out] == [True, False, False, True]
    assert out[0].summary == "a short recap "
    assert out[0].relevance == "high"
    assert out[1].summary is None and out[2].relevance is None
    assert out[3].summary == "real recap " and out[3].relevance == "high"


def test_bpe_tokens_split_runs_and_contractions(spark):
    from cdrc_semantic_search_spark.functions.text import bpe_tokens, token_count

    df = spark.createDataFrame(
        [(1, "It's 2026: GPT-4 rocks!!"), (2, "plain words only")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.toks
        for r in df.select("doc_id", bpe_tokens(F.col("text")).alias("toks")).collect()
    }
    # contraction splits; digit and punctuation runs are separate tokens
    assert out[1] == ["it", "'s", "2026", ":", "gpt", "-", "4", "rocks", "!!"]
    assert out[2] == ["plain", "words", "only"]
    # BPE-ish counts >= whitespace counts
    cmp = df.select(
        (F.size(bpe_tokens(F.col("text"))) >= token_count(F.col("text"))).alias("ge")
    ).collect()
    assert all(r.ge for r in cmp)


def test_winnowing_overlap(spark):
    a = " ".join(f"t{i}" for i in range(30))
    b = " ".join(f"t{i}" for i in range(30)) + " u1 u2"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    out = df.select(
        "doc_id",
        text_analysis.winnowing_fingerprints(F.col("text"), k=5, window=4).alias("fps"),
    ).toPandas()
    s1, s2 = set(out["fps"].iloc[0]), set(out["fps"].iloc[1])
    assert len(s1 & s2) / len(s1 | s2) > 0.5


def test_tree_depth_doubling_random_forest_and_errors(spark):
    """tree_depth_doubling ≡ pointer-chased depths on a randomized
    forest; explicit (r, r) root rows tolerated; multi-parent input and
    cycles raise (the two error branches the closed-form oracle can't
    reach)."""
    from cdrc_semantic_search_spark.operators.graph import tree_depth_doubling

    rng = np.random.default_rng(7)
    parent = {}
    for v in range(1, 200):
        parent[v] = int(rng.integers(0, v))  # forest over 0..199, root 0
    # second tree rooted at 500 with an explicit self-pointer row
    for v in range(501, 560):
        parent[v] = int(rng.integers(500, v))
    rows = [(c, p) for c, p in parent.items()] + [(500, 500)]
    stats: dict = {}
    got = {
        r.id: (r.depth, r.root)
        for r in tree_depth_doubling(
            spark.createDataFrame(rows, "child long, parent long"),
            stats=stats,
        ).collect()
    }

    def chase(v):
        d = 0
        while v in parent:
            v = parent[v]
            d += 1
        return d, v

    want = {v: chase(v) for v in set(parent) | set(parent.values()) | {500}}
    assert got == want
    max_depth = max(d for d, _ in want.values())
    assert stats["rounds"] <= int(np.ceil(np.log2(max(max_depth, 2)))) + 1

    with pytest.raises(ValueError, match="multi-parent"):
        tree_depth_doubling(
            spark.createDataFrame(
                [(1, 2), (1, 3)], "child long, parent long"
            )
        )
    # a vertex declared BOTH an explicit root (r, r) and a child is
    # contradictory input, not a root — must raise, not silently pick
    with pytest.raises(ValueError, match="declared roots"):
        tree_depth_doubling(
            spark.createDataFrame(
                [(5, 5), (5, 2)], "child long, parent long"
            )
        )
    with pytest.raises(RuntimeError, match="cycle"):
        tree_depth_doubling(
            spark.createDataFrame(
                [(1, 2), (2, 3), (3, 1)], "child long, parent long"
            ),
            max_doublings=8,
        )


# ------------------------------------------------------------ canonicalize
def test_pagerank_fixed_symmetry_and_sink_gain(spark):
    """2-cycle A↔B: equal ranks by symmetry. A→C sink: C gains rank from A
    but never returns it; total mass stays ≤ 1 (dangling leak)."""
    from cdrc_semantic_search_spark.operators.graph import pagerank_fixed

    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    r = {row.id: row.rank for row in pagerank_fixed(cyc, n_iter=5).collect()}
    assert abs(r[1] - r[2]) < 1e-12 and abs(r[1] - 0.5) < 1e-12

    chain = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    r = {row.id: row.rank for row in pagerank_fixed(chain, n_iter=3).collect()}
    assert r[3] > r[2] > r[1]  # downstream accumulates
    assert sum(r.values()) <= 1.0 + 1e-9


def test_link_prediction_scores_hand_graph(spark):
    """Square 1-2-3-4-1: the two diagonals (1,3) and (2,4) are the only
    non-adjacent pairs, each with 2 common neighbours of degree 2 →
    jaccard 1.0, adamic_adar 2/ln2; adjacent pairs never appear; a
    degree cap below 2 removes every center and empties the result."""
    import math

    from cdrc_semantic_search_spark.operators.graph import link_prediction_scores

    sq = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    rows = {(r.v, r.w): r for r in link_prediction_scores(sq).collect()}
    assert set(rows) == {(1, 3), (2, 4)}
    for r in rows.values():
        assert r.common_cnt == 2
        assert abs(r.jaccard - 1.0) < 1e-12
        assert abs(r.adamic_adar - 2.0 / math.log(2)) < 1e-12

    assert link_prediction_scores(sq, max_center_degree=1).count() == 0


def test_personalized_pagerank_restart_and_seed_mass(spark):
    """Chain 1→2→3 seeded at 1: mass decays with distance from the seed
    (unlike global pagerank, where downstream accumulates); an isolated
    seed still holds its restart mass; n_iter=0 returns the restart
    vector; empty seeds raise."""
    import pytest as _pytest

    from cdrc_semantic_search_spark.operators.graph import personalized_pagerank

    chain = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    r = {row.id: row.rank for row in personalized_pagerank(chain, seeds).collect()}
    assert r[1] > r[2] > r[3] >= 0.0
    assert sum(r.values()) <= 1.0 + 1e-9

    lonely = spark.createDataFrame([(99,)], "id long")
    r = {
        row.id: row.rank
        for row in personalized_pagerank(chain, lonely, n_iter=2).collect()
    }
    assert abs(r[99] - 0.15) < 1e-12  # restart mass only, walk mass leaked

    r0 = {
        row.id: row.rank
        for row in personalized_pagerank(chain, seeds, n_iter=0).collect()
    }
    assert r0 == {1: 1.0, 2: 0.0, 3: 0.0}

    with _pytest.raises(ValueError):
        personalized_pagerank(
            chain, spark.createDataFrame([], "id long"), n_iter=1
        )


def test_k_core_peels_to_fixpoint(spark):
    """Triangle + pendant: the 2-core is exactly the triangle (degree 2
    each); k=3 empties the graph; a path needs cascading rounds and a
    too-small max_rounds raises instead of returning the torn state."""
    import pytest as _pytest

    from cdrc_semantic_search_spark.operators.graph import k_core

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    rows = {r.id: r.core_deg for r in k_core(tri, k=2).collect()}
    assert rows == {1: 2, 2: 2, 3: 2}
    assert k_core(tri, k=3).count() == 0

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    assert k_core(path, k=2).count() == 0  # cascades end-inward
    with _pytest.raises(RuntimeError):
        k_core(path, k=2, max_rounds=2)
    with _pytest.raises(ValueError):
        k_core(path, k=0)


def test_weighted_mix_quotas_and_determinism(spark):
    """Exact floor quotas per source; short sources contribute what they
    have without redistribution; the member SET survives repartitioning;
    bad weights raise."""
    import pytest as _pytest

    from cdrc_semantic_search_spark.operators.split import weighted_mix

    rows = [(f"d{i:03d}", "a") for i in range(30)] + [
        (f"e{i:03d}", "b") for i in range(4)
    ] + [(f"x{i:03d}", "junk") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    out = weighted_mix(df, "source", "doc_id", {"a": 0.7, "b": 0.3}, total=20)
    counts = {r.source: r.cnt for r in out.groupBy("source").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    # a: floor(20*0.7)=14 of 30; b: floor(20*0.3)=6 but only 4 exist
    assert counts == {"a": 14, "b": 4}

    ids = {r.doc_id for r in out.select("doc_id").collect()}
    ids2 = {
        r.doc_id
        for r in weighted_mix(
            df.repartition(7), "source", "doc_id", {"a": 0.7, "b": 0.3}, total=20
        ).select("doc_id").collect()
    }
    assert ids == ids2

    # NULL keys rank LAST (matching SQL engines' NULLS LAST), so they
    # never enter the mix while non-NULL rows can fill the quota
    with_nulls = df.union(
        spark.createDataFrame([(None, "a")] * 5, "doc_id string, source string")
    )
    out_n = weighted_mix(
        with_nulls, "source", "doc_id", {"a": 0.7, "b": 0.3}, total=20
    )
    assert out_n.filter("doc_id IS NULL").count() == 0
    assert out_n.filter("source = 'a'").count() == 14

    with _pytest.raises(ValueError):
        weighted_mix(df, "source", "doc_id", {"a": 0.5}, total=10)
    with _pytest.raises(ValueError):
        weighted_mix(df, "source", "doc_id", {"a": 1.0}, total=-1)
    with _pytest.raises(ValueError):
        weighted_mix(df, "source", "doc_id", {}, total=10)
    with _pytest.raises(ValueError):
        weighted_mix(df, "source", "doc_id", {"a": 1.5, "b": -0.5}, total=10)


def test_negative_sample_edges_filters_and_determinism(spark):
    """Every sample avoids the head, the true tail, and every positive
    edge; ≤ k per positive; the set is identical across partitionings;
    bad args raise."""
    import pytest as _pytest

    from cdrc_semantic_search_spark.operators.graph import negative_sample_edges

    edges = spark.createDataFrame(
        [("A", "likes", "B"), ("A", "likes", "C"), ("B", "knows", "C")],
        "subj_entity_id string, pred string, obj_entity_id string",
    )
    ents = spark.createDataFrame(
        [(i, e) for i, e in enumerate(["A", "B", "C", "D", "E"])],
        "idx long, entity_id string",
    )
    out = negative_sample_edges(edges, ents, k=4).collect()
    positives = {("A", "likes", "B"), ("A", "likes", "C"), ("B", "knows", "C")}
    per_edge: dict = {}
    for r in out:
        assert r.obj_entity_id != r.subj_entity_id
        assert (r.subj_entity_id, r.pred, r.obj_entity_id) not in positives
        per_edge.setdefault((r.subj_entity_id, r.pred), 0)
        per_edge[(r.subj_entity_id, r.pred)] += 1
    assert all(v <= 8 for v in per_edge.values())  # 2 edges share (A, likes)

    again = negative_sample_edges(edges.repartition(5), ents, k=4).collect()
    key = lambda r: (r.subj_entity_id, r.pred, r.obj_entity_id, r.neg_idx)
    assert sorted(map(key, out)) == sorted(map(key, again))

    with _pytest.raises(ValueError):
        negative_sample_edges(edges, ents, k=0)
    with _pytest.raises(ValueError):
        negative_sample_edges(edges, ents.filter("idx < 0"), k=1)


def test_sssp_weighted_relaxation(spark):
    """Hand graph where the cheap 2-hop path beats the direct edge
    (1→2→3 costs 2 vs direct 10); parallel edges keep the cheapest;
    unreachable vertices absent; hop-bounded rounds; non-positive
    weights rejected."""
    import pytest as _pytest

    from cdrc_semantic_search_spark.operators.graph import sssp_weighted

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 10.0), (1, 3, 7.0), (4, 5, 1.0)],
        "src long, dst long, w double",
    )
    src = spark.createDataFrame([(1,)], "id long")
    d = {r.id: r.dist for r in sssp_weighted(edges, src, n_rounds=4).collect()}
    assert d == {1: 0.0, 2: 1.0, 3: 2.0}  # 4,5 unreachable; 2-hop beats 7

    d1 = {r.id: r.dist for r in sssp_weighted(edges, src, n_rounds=1).collect()}
    assert d1 == {1: 0.0, 2: 1.0, 3: 7.0}  # 1 hop: cheapest direct edge only

    with _pytest.raises(ValueError):
        sssp_weighted(
            spark.createDataFrame([(1, 2, 0.0)], "src long, dst long, w double"),
            src,
            n_rounds=1,
        )
    with _pytest.raises(ValueError):
        sssp_weighted(edges, src, n_rounds=-1)


def test_stratified_sample_exact_quotas_and_determinism(spark):
    """Every stratum yields exactly ceil(n*frac) rows; the member SET is
    stable across repartitioning; bad fractions raise."""
    import pytest as _pytest

    from cdrc_semantic_search_spark.operators.split import stratified_sample

    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("k")
    )
    out = stratified_sample(df, "g", "k", 0.3)
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    base = {r.g: r.n for r in df.groupBy("g").agg(F.count("*").alias("n")).collect()}
    # exact rational quota: -(-n*3 // 10) == ceil(n * 3/10) in true math —
    # double ceil(n*0.3) would claim 4 for n=10 strata boundaries like n=15·0.2
    assert counts == {g: -(-n * 3 // 10) for g, n in base.items()}
    # the documented float64 boundary case: 15 rows at fraction 0.2 keeps 3,
    # not ceil(15*0.2-in-double)=4
    small = spark.range(0, 15).select(F.lit(0).alias("g"), F.col("id").alias("k"))
    assert stratified_sample(small, "g", "k", 0.2).count() == 3
    a = sorted(r.k for r in out.collect())
    b = sorted(r.k for r in stratified_sample(df.repartition(13), "g", "k", 0.3).collect())
    assert a == b
    with _pytest.raises(ValueError):
        stratified_sample(df, "g", "k", 0.0)


def test_merge_upsert_semantics(spark):
    """Matched rows take the UPDATE side entirely (even NULL fields — the
    update row wins as a whole), new keys append, unmatched targets
    survive, schema mismatch raises."""
    import pytest as _pytest

    from cdrc_semantic_search_spark.operators.split import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    updates = spark.createDataFrame(
        [(2, None, 99), (4, "d", 40)], "k long, s string, v long"
    )
    got = {r.k: (r.s, r.v) for r in merge_upsert(target, updates, ["k"]).collect()}
    assert got == {1: ("a", 10), 2: (None, 99), 3: ("c", 30), 4: ("d", 40)}
    with _pytest.raises(ValueError):
        merge_upsert(target, updates.drop("v"), ["k"])


def test_deterministic_split_stable_and_validated(spark):
    """Split is a pure function of the key: stable across repartitioning,
    exhaustive, and fraction-validated."""
    import pytest as _pytest

    from cdrc_semantic_search_spark.operators.split import deterministic_split

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = deterministic_split(df, "k", fr).toPandas().sort_values("k").reset_index(drop=True)
    b = (
        deterministic_split(df.repartition(17), "k", fr)
        .toPandas().sort_values("k").reset_index(drop=True)
    )
    assert a.equals(b)
    counts = a["split"].value_counts()
    assert set(counts.index) == {"train", "val", "test"}
    assert counts.sum() == 2000
    assert 0.75 < counts["train"] / 2000 < 0.85  # ~binomial around 0.8
    with _pytest.raises(ValueError):
        deterministic_split(df, "k", {"train": 0.5, "val": 0.2})


def test_bm25_ranking_properties(spark):
    """More query-term mass ranks higher; term-free docs score exactly 0;
    rare terms outweigh common ones (idf)."""
    from cdrc_semantic_search_spark.functions.ranking import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "data data data model"),  # heavy on common term
            (2, "spark pipeline"),  # one rare term
            (3, "nothing relevant here at all"),
            (4, "data pipeline"),  # one common term
        ],
        "doc_id long, text string",
    )
    out = {r.id: r.score for r in bm25_scores(docs, ["data", "spark"]).collect()}
    assert out[3] == 0.0
    assert out[2] > out[4]  # 'spark' (df=1) beats 'data' (df=2) — idf
    assert out[1] > out[4]  # repeated hits beat a single hit of the same term
    assert all(v >= 0 for v in out.values())
    # bag semantics: a repeated query term doubles its contribution
    dup = {r.id: r.score for r in bm25_scores(docs, ["data", "data"]).collect()}
    single = {r.id: r.score for r in bm25_scores(docs, ["data"]).collect()}
    assert abs(dup[4] - 2 * single[4]) < 1e-9
    # fully lazy: no Spark job runs until an action
    assert bm25_scores(docs, ["data"]) is not None


def test_distinct_count_two_phase_equals_count_distinct(spark):
    from cdrc_semantic_search_spark.operators.rollup import distinct_count_two_phase

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 1), ("b", 3), ("a", 2)],
        "k string, v long",
    )
    got = {r.k: r.n_distinct for r in distinct_count_two_phase(df, "k", "v").collect()}
    want = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert got == want == {"a": 2, "b": 2}


def test_label_centroids_mean_and_order(spark):
    """Centroid = exact per-dimension mean, dims in order, n = group size;
    result invariant under repartitioning (decimal sums)."""
    from cdrc_semantic_search_spark.operators.rollup import label_centroids

    rows = [
        (0, [1.0, 2.0]),
        (0, [3.0, 6.0]),
        (1, [10.0, -4.0]),
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    got = {r.label: (r.n, list(r.centroid)) for r in label_centroids(df, "label", "embedding").collect()}
    assert got[0] == (2, [2.0, 4.0])
    assert got[1] == (1, [10.0, -4.0])
    re_got = {
        r.label: list(r.centroid)
        for r in label_centroids(df.repartition(7), "label", "embedding").collect()
    }
    assert re_got == {k: v for k, (_, v) in got.items()}


def test_cross_split_contamination(spark):
    """A train doc sharing a 3-gram with any holdout doc is flagged with
    the right shared-shingle count; clean train docs and holdout docs
    themselves never appear."""
    from cdrc_semantic_search_spark.operators.dedup import cross_split_contamination

    rows = [
        (1, "the quick brown fox jumps", "train"),   # shares 'the quick brown' + 'quick brown fox'
        (2, "totally unrelated training text", "train"),
        (3, "the quick brown fox sleeps", "val"),
        (4, "another clean holdout document", "test"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    got = {
        r.id: r.n_shared
        for r in cross_split_contamination(df, "doc_id", "text", "split", k=3).collect()
    }
    # doc 1 shares exactly the 3-gram prefixes of doc 3: 'the quick brown',
    # 'quick brown fox' (the 3rd shingles diverge: jumps vs sleeps)
    assert got == {1: 2}


def test_tfidf_scores_smoothing_and_tf_linearity(spark):
    """tfidf = tf · (ln((N+1)/(df+1)) + 1): linear in tf, discounts
    common terms, emits only (doc, term) pairs that occur."""
    import math

    from cdrc_semantic_search_spark.functions.ranking import tfidf_scores

    docs = spark.createDataFrame(
        [
            (1, "data data model"),
            (2, "data spark"),
            (3, "unrelated text"),
        ],
        "doc_id long, text string",
    )
    out = {(r.id, r.term): r.tfidf for r in tfidf_scores(docs, ["data", "spark"]).collect()}
    # only occurring pairs emitted — doc 3 matches nothing
    assert set(out) == {(1, "data"), (2, "data"), (2, "spark")}
    idf_data = math.log(4 / 3) + 1  # N=3, df=2
    idf_spark = math.log(4 / 2) + 1  # df=1
    assert abs(out[(1, "data")] - 2 * idf_data) < 1e-12  # tf=2, linear
    assert abs(out[(2, "data")] - idf_data) < 1e-12
    assert abs(out[(2, "spark")] - idf_spark) < 1e-12
    assert out[(2, "spark")] > out[(2, "data")]  # rarer term weighs more


def test_asof_join_backward_semantics(spark):
    """Inclusive at equal ts, most-recent-wins, NULL before any snapshot,
    keys never cross."""
    import datetime as dt

    from cdrc_semantic_search_spark.operators.temporal import asof_join_backward

    t0 = dt.datetime(2026, 1, 1)
    s = lambda m: t0 + dt.timedelta(minutes=m)
    left = spark.createDataFrame(
        [(1, s(0), "a"), (1, s(10), "b"), (1, s(20), "c"), (2, s(10), "d")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, s(10), 1.5), (1, s(15), 2.5), (2, s(99), 9.9)],
        "k long, ts timestamp, v double",
    )
    out = {
        r.tag: r.v
        for r in asof_join_backward(left, right, key="k", value_cols=["v"]).collect()
    }
    assert out["a"] is None  # before any snapshot
    assert out["b"] == 1.5  # equal ts is inclusive
    assert out["c"] == 2.5  # most recent wins
    assert out["d"] is None  # other key's snapshots invisible

    # the most recent right ROW wins as a whole: a NULL inside the latest
    # snapshot stays NULL, and columns never mix across snapshots
    right2 = spark.createDataFrame(
        [(1, s(5), 1.0, 2.0), (1, s(15), 3.0, None)],
        "k long, ts timestamp, v1 double, v2 double",
    )
    got = {
        r.tag: (r.v1, r.v2)
        for r in asof_join_backward(
            left, right2, key="k", value_cols=["v1", "v2"]
        ).collect()
    }
    assert got["c"] == (3.0, None)  # NOT (3.0, 2.0) — no cross-row mixing
    assert got["b"] == (1.0, 2.0)

    # payload column names must not collide with left columns
    import pytest as _pytest

    with _pytest.raises(ValueError):
        asof_join_backward(left, right.withColumnRenamed("v", "tag"), key="k")


def test_asof_join_randomized_vs_python_reference(spark):
    """300 random left rows × 120 random snapshots across 8 keys, checked
    against a brute-force Python as-of (seeded — deterministic)."""
    import datetime as dt

    from cdrc_semantic_search_spark.operators.temporal import asof_join_backward

    rng = np.random.default_rng(7)
    t0 = dt.datetime(2026, 1, 1)
    lrows = [
        (int(rng.integers(0, 8)), t0 + dt.timedelta(seconds=int(rng.integers(0, 5000))), i)
        for i in range(300)
    ]
    rrows = [
        (int(rng.integers(0, 8)), t0 + dt.timedelta(seconds=int(rng.integers(0, 5000))), float(i))
        for i in range(120)
    ]
    # dedupe right on (k, ts) keeping max v — mirrors the operator contract
    best = {}
    for k, ts, v in rrows:
        best[(k, ts)] = max(best.get((k, ts), v), v)
    rrows = [(k, ts, v) for (k, ts), v in best.items()]
    left = spark.createDataFrame(lrows, "k long, ts timestamp, rid long")
    right = spark.createDataFrame(rrows, "k long, ts timestamp, v double")
    got = {
        r.rid: r.v
        for r in asof_join_backward(left, right, key="k", value_cols=["v"]).collect()
    }
    for k, ts, rid in lrows:
        cands = [(rts, v) for (rk, rts, v) in rrows if rk == k and rts <= ts]
        want = max(cands)[1] if cands else None
        assert got[rid] == want, (rid, got[rid], want)


def test_hypertable_rollup_cascade_equals_direct(spark):
    """The daily level (re-aggregated from hourly) equals direct daily
    aggregation of the raw rows — sums of exact decimal sums."""
    import datetime as dt

    from cdrc_semantic_search_spark.operators.temporal import hypertable_rollup

    t0 = dt.datetime(2026, 3, 1)
    rows = [
        ("x", t0 + dt.timedelta(minutes=37 * i % (3 * 1440)), float(i) / 7)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    out = hypertable_rollup(df, "ts", ["g"], "value", levels=("1 hour", "1 day"))
    daily = out.filter(F.col("level") == "1 day").toPandas()
    direct = (
        df.groupBy(F.window("ts", "1 day").getField("start").alias("bucket_start"), "g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_val"),
        )
        .toPandas()
    )
    key = ["bucket_start", "g"]
    assert (
        daily.sort_values(key)[key + ["n_rows", "sum_val"]].reset_index(drop=True)
        .equals(direct.sort_values(key)[key + ["n_rows", "sum_val"]].reset_index(drop=True))
    )


def test_approx_count_distinct_error_bound(spark):
    """HLL++ at rsd=0.02 stays within 5% of exact on a 20k-key column."""
    df = spark.range(0, 100_000).select((F.col("id") % 20_000).alias("k"))
    exact = df.select(F.countDistinct("k")).first()[0]
    approx = df.select(F.approx_count_distinct("k", rsd=0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.05, (approx, exact)


def test_pagerank_weighted_shifts_mass(spark):
    """Edge weights steer rank: with 1→2 weighted 9× over 1→3, node 2 must
    out-rank node 3; unweighted they tie."""
    from cdrc_semantic_search_spark.operators.graph import pagerank_fixed

    edges = spark.createDataFrame(
        [(1, 2, 9.0), (1, 3, 1.0)], "src long, dst long, w double"
    )
    un = {r.id: r.rank for r in pagerank_fixed(edges, n_iter=3).collect()}
    assert abs(un[2] - un[3]) < 1e-12
    wt = {r.id: r.rank for r in pagerank_fixed(edges, n_iter=3, weight="w").collect()}
    assert wt[2] > wt[3]
    assert abs((wt[2] + wt[3] + wt[1]) - (un[1] + un[2] + un[3])) < 1e-9


def test_triangle_count_k4_and_bipartite(spark):
    from cdrc_semantic_search_spark.operators.graph import triangle_count

    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    assert triangle_count(k4).first()["n_triangles"] == 4
    # bipartite graphs are triangle-free; reversed/duplicate edges collapse
    bip = spark.createDataFrame(
        [(1, 10), (10, 1), (2, 10), (1, 20), (2, 20)], "src long, dst long"
    )
    assert triangle_count(bip).first()["n_triangles"] == 0


def test_triangle_count_hub_skew(spark):
    """Star hub + leaf-leaf chords: degree orientation points every hub
    edge INTO the hub (its id 0 is the smallest, so id-orientation would
    fan 100 wedge legs out of it), and the count is still exact."""
    from cdrc_semantic_search_spark.operators.graph import triangle_count

    hub = [(0, i) for i in range(1, 101)]
    chords = [(1, 2), (3, 4), (5, 6), (7, 8)]  # each closes one triangle via the hub
    g = spark.createDataFrame(hub + chords, "src long, dst long")
    assert triangle_count(g).first()["n_triangles"] == 4
    # leaf-only triangle (no hub participation) still counted once
    g2 = spark.createDataFrame(hub + [(1, 2), (2, 3), (1, 3)], "src long, dst long")
    # {1,2,3} plus the three hub triangles {0,1,2},{0,2,3},{0,1,3}
    assert triangle_count(g2).first()["n_triangles"] == 4


def test_connected_components_long_path_converges(spark):
    """A 200-node path is the worst case for min-label flooding (diameter
    199): every node must still get the path's minimum."""
    from cdrc_semantic_search_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    out = connected_components(edges).toPandas()
    assert len(out) == 200
    assert set(out["component"]) == {0}


def test_connected_components_chain_and_island(spark):
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"
    )
    out = dict(
        (r["id"], r["component"])
        for r in canonicalize.connected_components(edges).collect()
    )
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def _uf_components(edges) -> dict:
    """Plain-Python union-find twin of connected_components: every
    endpoint of a non-NULL edge → the minimum id of its component."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.mark.parametrize("kind", ["long", "string"])
def test_connected_components_matches_union_find(spark, kind):
    """Randomized graphs with duplicate and reversed edges and self-loops
    (one vertex's only edge is a self-loop), over 1 and 7 input
    partitions, against a plain-Python union-find."""
    import random

    from pyspark.sql.types import LongType, StringType

    rng = random.Random(5 if kind == "long" else 6)
    key = (lambda i: i) if kind == "long" else (lambda i: f"v{i:03d}")
    for n, m in [(40, 30), (120, 150)]:
        raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        raw += [(b, a) for a, b in raw[:5]] + raw[5:10] + [(n + 7, n + 7)]
        edges = [(key(a), key(b)) for a, b in raw]
        want = _uf_components(edges)
        df = spark.createDataFrame(edges, f"id_a {kind}, id_b {kind}")
        for parts in (1, 7):
            out = canonicalize.connected_components(df.repartition(parts))
            got = {r.id: r.component for r in out.collect()}
            assert got == want, (n, parts)
    empty = canonicalize.connected_components(
        spark.createDataFrame([], f"id_a {kind}, id_b {kind}")
    )
    want_type = LongType() if kind == "long" else StringType()
    assert [f.dataType for f in empty.schema.fields] == [want_type, want_type]
    assert empty.columns == ["id", "component"] and empty.count() == 0


def _clustered_vectors(seed: int, n: int = 90, dim: int = 16):
    """Unit-ish float32 vectors in tight groups around a few centres, so
    the τ-graph has multi-member components and borderline pairs."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((12, dim)).astype(np.float32)
    pick = rng.integers(0, len(centres), n)
    noise = rng.standard_normal((n, dim)).astype(np.float32)
    return centres[pick] + noise * np.float32(0.25)


def _read_vectors(col: str, dim: int):
    """An embedding for canonicalize's operators that reads an
    array<float> column of the batch; a NULL vector becomes a NaN row."""

    def embed(batch):
        vecs = batch.column(col)
        out = np.full((batch.num_rows, dim), np.nan, np.float32)
        ok = vecs.is_valid().to_numpy(zero_copy_only=False)
        out[ok] = vecs.filter(pa.array(ok)).flatten().to_numpy().reshape(-1, dim)
        return out

    return embed


def test_similarity_forest_matches_lsh_pairs(spark):
    """similarity_forest is a forest (per output partition: ≤ |V_p|−1
    edges, no cycle; on one partition the whole output is) whose
    components equal cosine_pairs_lsh's on the same input; with every
    old row under its own id as its prior label, those of the pairs
    touching a new row."""
    mat = _clustered_vectors(11)
    dim = mat.shape[1]
    pdf = pd.DataFrame(
        {
            "vid": [f"s{i:03d}" for i in range(len(mat))],
            "vec": [list(map(float, v)) for v in mat],
            "new": [i % 5 == 0 for i in range(len(mat))],
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "prior", F.when(~F.col("new"), F.col("vid"))
    )
    embed = _read_vectors("vec", dim)
    args = dict(dim=dim, threshold=0.9, n_planes=8, n_bands=4)
    pairs = similarity.cosine_pairs_lsh(df, "vid", "vec", **args).collect()
    new_ids = set(pdf.loc[pdf["new"], "vid"])
    assert len(pairs) > 20  # the fixture has real clusters

    def check_forest(rows):
        by_part: dict = {}
        for p, a, b in rows:
            by_part.setdefault(p, []).append((a, b))
        for edges in by_part.values():
            verts = {v for e in edges for v in e}
            assert len(edges) <= len(verts) - 1
            # a forest: every edge joins two different components
            comps = {v: v for v in verts}
            for a, b in edges:
                ca, cb = comps[a], comps[b]
                assert ca != cb, "cycle"
                for v, c in comps.items():
                    if c == cb:
                        comps[v] = ca

    for prior_col, want_pairs in [
        (None, pairs),
        ("prior", [r for r in pairs if r.id_a in new_ids or r.id_b in new_ids]),
    ]:
        forest = canonicalize.similarity_forest(
            df, "vid", embed, prior_col=prior_col, **args
        )
        rows = forest.select(F.spark_partition_id(), "id_a", "id_b").collect()
        check_forest(rows)
        got = _uf_components([(a, b) for _, a, b in rows])
        assert got == _uf_components([(r.id_a, r.id_b) for r in want_pairs])
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        one = canonicalize.similarity_forest(df, "vid", embed, **args).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    check_forest([(0, r.id_a, r.id_b) for r in one])
    assert _uf_components([(r.id_a, r.id_b) for r in one]) == _uf_components(
        [(r.id_a, r.id_b) for r in pairs]
    )


def test_canonicalize_embedded_carries_payload_columns(spark):
    """Columns other than the id ride through; a row with a NULL vector
    is kept as its own canonical."""
    mat = _clustered_vectors(12, n=30)
    rows = [(f"s{i:02d}", list(map(float, v)), i) for i, v in enumerate(mat)]
    rows.append(("zz", None, 99))
    df = spark.createDataFrame(rows, "sid string, vec array<float>, payload int")
    dim = mat.shape[1]
    out = canonicalize.canonicalize_embedded(
        df, "sid", _read_vectors("vec", dim), dim=dim, threshold=0.9, n_planes=8
    )
    assert out.columns == ["id", "canonical_id", "vec", "payload"]
    got = {r.id: (r.canonical_id, r.payload) for r in out.collect()}
    assert got["zz"] == ("zz", 99)
    assert {k: p for k, (_, p) in got.items()} == {r[0]: r[2] for r in rows}
    assert len({c for c, _ in got.values()}) < len(got)


def _unit(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v)).astype(np.float32)


@pytest.mark.parametrize("partitions", ["1", None])
def test_prior_labels_equal_clustering_from_scratch(spark, partitions):
    """canonicalize_embedded over every row, given as prior labels the
    clustering of the old rows alone, equals clustering every row from
    scratch, label for label — over several seeds and random old/new
    splits, plus no new row and every row new. Each input holds a new
    row that bridges two old clusters (it takes the smaller label), an
    isolated new row and a NULL vector on each side of the split; at
    one shuffle partition and at the session default."""
    dim = 16
    args = dict(dim=dim, threshold=0.9, n_planes=8, n_bands=4)
    embed = _read_vectors("vec", dim)

    def cluster(rows, prior=None):
        df = spark.createDataFrame(
            [(i, None if v is None else list(map(float, v)), (prior or {}).get(i))
             for i, v in rows.items()],
            "sid string, vec array<float>, prior string",
        )
        out = canonicalize.canonicalize_embedded(
            df, "sid", embed, prior_col=None if prior is None else "prior", **args
        )
        return {r.id: r.canonical_id for r in out.collect()}

    # x1 ~ x3 and x0 ~ x2 are two old clusters 40° apart; the new y0 lies
    # 20° from each, so it bridges them (cos 20° ≥ τ > cos 40°)
    a, b = np.eye(dim, dtype=np.float32)[:2]
    tilt = _unit(np.eye(dim, dtype=np.float32)[2])
    along = lambda deg: _unit(a * np.cos(np.radians(deg)) + b * np.sin(np.radians(deg)))
    special_old = {
        "x1": along(0) * 4, "x3": _unit(along(0) + tilt * 0.02) * 4,
        "x0": along(40) * 4, "x2": _unit(along(40) + tilt * 0.02) * 4,
        "z0": None,
    }
    special_new = {"y0": along(20) * 4, "y9": _unit(np.ones(dim, np.float32)), "z1": None}

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if partitions:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    try:
        for seed, share in [(31, 0.25), (32, 0.5), (33, 0.0), (33, 1.0)]:
            mat = _clustered_vectors(seed, n=60)
            rng = np.random.default_rng(seed)
            is_new = rng.random(len(mat)) < share
            old = {f"s{i:02d}": v for i, v in enumerate(mat) if not is_new[i]}
            new = {f"s{i:02d}": v for i, v in enumerate(mat) if is_new[i]}
            if 0.0 < share < 1.0:
                old.update(special_old)
                new.update(special_new)
            rows = {**old, **new}
            want = cluster(rows)
            prior = cluster(old) if old else {}
            got = cluster(rows, prior)
            assert got == want, (seed, share)
            if 0.0 < share < 1.0:
                assert prior["x3"] == "x1" and prior["x2"] == "x0"
                assert {got[k] for k in ("x0", "x1", "x2", "x3", "y0")} == {"x0"}
                assert (got["y9"], got["z0"], got["z1"]) == ("y9", "z0", "z1")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_fold_cosine_pairs_bit_identical_to_oracle_fold():
    """The vectorized fold equals value_oracles._fold_cosine bit for bit
    on random float32 vectors, pairs within 1e-7 of τ included; a zero
    vector gives NaN, which never passes ≥ τ."""
    from cdrc_semantic_search_spark.plans.value_oracles import _fold_cosine

    rng = np.random.default_rng(23)
    mat = rng.standard_normal((200, 64)).astype(np.float32)
    mat[150:] = mat[:50] + rng.standard_normal((50, 64)).astype(np.float32) * np.float32(0.05)
    mat[7] = 0.0
    cols = mat.astype(np.float64).T.copy()
    norms = canonicalize._fold_norms(cols)
    u = rng.integers(0, 200, 4000)
    v = rng.integers(0, 200, 4000)
    u[:50], v[:50] = np.arange(50), np.arange(150, 200)
    u[50:60] = 7
    got = canonicalize._fold_cosine_pairs(cols, norms, u, v)
    want = np.array([_fold_cosine(mat[a], mat[b]) for a, b in zip(u, v)])
    assert np.array_equal(got, want, equal_nan=True)
    assert np.isnan(got[50:60]).all() and not (got[50:60] >= -1.0).any()
    # thresholds placed within 1e-7 of real scores decide identically
    near = want[:50]
    for tau in (near - 1e-7, near, near + 1e-7, np.nextafter(near, 2.0)):
        assert np.array_equal(got[:50] >= tau, near >= tau)


def test_canonicalize_embedded_clusters_duplicates(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal((6, 8)).astype(np.float32)
    mat = np.vstack([base, base[0:1] * 1.001])  # row 6 ~ row 0
    pdf = pd.DataFrame({"mid": [f"m{i}" for i in range(7)], "vec": [list(map(float, v)) for v in mat]})
    df = spark.createDataFrame(pdf)
    out = canonicalize.canonicalize_embedded(
        df, "mid", _read_vectors("vec", 8), dim=8, threshold=0.999
    )
    got = dict((r["id"], r["canonical_id"]) for r in out.collect())
    assert got["m6"] == "m0" and got["m0"] == "m0"
    assert got["m3"] == "m3"


def test_bigram_repetition_known_values(spark):
    df = spark.createDataFrame(
        [
            ("d1", "a b a b a b"),        # bigrams: ab,ba,ab,ba,ab -> top 'a b' = 3/5
            ("d2", "x y z w"),            # all distinct -> 1/3
            ("d3", "solo"),               # 1 token -> NULL share
            ("d4", ""),                   # 0 tokens -> NULL share
        ],
        "doc_id string, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.top_bigram_share)
        for r in text_analysis.bigram_repetition(df, "doc_id", "text").collect()
    }
    assert out["d1"] == (6, 3 / 5)
    assert out["d2"] == (4, 1 / 3)
    assert out["d3"] == (1, None)
    assert out["d4"] == (0, None)


def test_bigram_repetition_multirow_ids_never_cross_rows(spark):
    """Two rows sharing an id: bigrams form within each row only (no
    fabricated cross-row bigrams), counts aggregate per id."""
    df = spark.createDataFrame(
        [("d1", "p q"), ("d1", "p q"), ("d1", "r s t")],
        "doc_id string, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.top_bigram_share)
        for r in text_analysis.bigram_repetition(df, "doc_id", "text").collect()
    }
    # bigrams: 'p q' ×2 (one per row) + 'r s','s t'; total bigrams = 1+1+2 = 4
    assert out["d1"] == (7, 2 / 4)


def test_common_token_score_known_values(spark):
    # corpus: d1 = "a a b", d2 = "a c"  -> counts: a=3, b=1, c=1, total=5
    df = spark.createDataFrame(
        [("d1", "a a b"), ("d2", "a c"), ("d3", "")],
        "doc_id string, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.common_score)
        for r in text_analysis.common_token_score(df, "doc_id", "text").collect()
    }
    # d1: (3+3+1)/(3*5) = 7/15 ; d2: (3+1)/(2*5) = 4/10
    assert out["d1"] == (3, 7 / 15)
    assert out["d2"] == (2, 4 / 10)
    assert "d3" not in out  # zero-token docs are absent by contract


def test_bfs_distances_path_and_cap(spark):
    from cdrc_semantic_search_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src int, dst int"
    )
    sources = spark.createDataFrame([(1,)], "id int")
    full = {r.id: r.dist for r in bfs_distances(edges, sources, 6).collect()}
    assert full == {1: 0, 2: 1, 3: 2, 4: 3}  # other component absent
    capped = {r.id: r.dist for r in bfs_distances(edges, sources, 2).collect()}
    assert capped == {1: 0, 2: 1, 3: 2}  # depth cap prunes vertex 4


def test_gap_fill_locf_hand_series(spark):
    """Hours 10:xx and 13:xx observed → spine covers 10..13 with 11 and
    12 carried forward from 10 and flagged as gaps; groups are
    independent; a single-point group yields one non-gap row."""
    from cdrc_semantic_search_spark.operators.temporal import gap_fill_locf

    rows = [
        (1, "2026-01-01 10:15:00", 5.0),
        (1, "2026-01-01 10:45:00", 7.0),   # same bucket: max wins
        (1, "2026-01-01 13:05:00", 2.0),
        (2, "2026-01-01 03:00:00", 9.0),
    ]
    df = spark.createDataFrame(rows, "g int, ts string, value double").select(
        "g", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = {
        (r.g, str(r.bucket_ts)): (r.value, r.is_gap)
        for r in gap_fill_locf(df, "g", "ts", "value").collect()
    }
    assert out == {
        (1, "2026-01-01 10:00:00"): (7.0, False),
        (1, "2026-01-01 11:00:00"): (7.0, True),
        (1, "2026-01-01 12:00:00"): (7.0, True),
        (1, "2026-01-01 13:00:00"): (2.0, False),
        (2, "2026-01-01 03:00:00"): (9.0, False),
    }


def test_incremental_components_equals_full_rebuild(spark):
    """incremental_components(cc(E1), E2) ≡ cc(E1 ∪ E2) on randomized
    graphs — merges across old components, brand-new components, new
    vertices attaching to old ones, and batches that change nothing."""
    import random

    from cdrc_semantic_search_spark.operators.canonicalize import (
        connected_components,
        incremental_components,
    )

    rng = random.Random(77)
    # two trials keep the test under a minute; the probe script in the
    # r4 session also verified 4 denser trials
    for trial in range(2):
        n = 60
        all_edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40 + 20 * trial)
        ]
        cut = len(all_edges) // 2
        e1 = spark.createDataFrame(all_edges[:cut], "id_a long, id_b long")
        e2 = spark.createDataFrame(all_edges[cut:], "id_a long, id_b long")
        full = spark.createDataFrame(all_edges, "id_a long, id_b long")
        base = connected_components(e1)
        inc = incremental_components(base, e2)
        want = {(r.id, r.component) for r in connected_components(full).collect()}
        # full CC omits vertices with only self-loops; incremental keeps a
        # previously-known vertex even if its batch edges are self-loops —
        # compare on the union of represented vertices with self-default
        got = {(r.id, r.component) for r in inc.collect()}
        want_ids = {i for i, _ in want}
        got_core = {(i, c) for i, c in got if i in want_ids}
        assert got_core == want
        # every extra vertex (self-loop-only) labels itself
        assert all(i == c for i, c in got - want)

    # repeated folding: three waves ≡ one rebuild
    waves = [all_edges[:20], all_edges[20:40], all_edges[40:]]
    labels = connected_components(
        spark.createDataFrame(waves[0], "id_a long, id_b long")
    )
    for w in waves[1:]:
        labels = incremental_components(
            labels, spark.createDataFrame(w, "id_a long, id_b long")
        )
        labels = labels.localCheckpoint()
    want = {(r.id, r.component) for r in connected_components(full).collect()}
    got = {(r.id, r.component) for r in labels.collect()}
    want_ids = {i for i, _ in want}
    assert {(i, c) for i, c in got if i in want_ids} == want

    # an empty batch is a no-op
    empty = spark.createDataFrame([], "id_a long, id_b long")
    again = incremental_components(labels, empty)
    assert {(r.id, r.component) for r in again.collect()} == got


def test_strongly_connected_components(spark):
    """FB-trim SCC vs a pure-Python transitive-closure twin: hand graph
    with two cycles sharing no vertices, randomized digraphs (dense and
    sparse), plus empty/self-loop-only degenerate inputs."""
    import random

    from cdrc_semantic_search_spark.operators.graph import (
        strongly_connected_components,
    )

    def truth(edges):
        verts = sorted({v for ab in edges for v in ab if ab[0] != ab[1]})
        idx = {v: i for i, v in enumerate(verts)}
        n = len(verts)
        reach = [[False] * n for _ in range(n)]
        for i in range(n):
            reach[i][i] = True
        for a, b in edges:
            if a != b:
                reach[idx[a]][idx[b]] = True
        for k in range(n):
            for i in range(n):
                if reach[i][k]:
                    ri, rk = reach[i], reach[k]
                    for j in range(n):
                        if rk[j]:
                            ri[j] = True
        return {
            v: min(
                u for u in verts if reach[idx[v]][idx[u]] and reach[idx[u]][idx[v]]
            )
            for v in verts
        }

    # two disjoint cycles bridged by a one-way edge: the bridge must NOT
    # merge them; the chain hangs off as trivial SCCs
    hand = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10), (3, 10), (11, 20), (20, 21)]
    e = spark.createDataFrame(hand, "src long, dst long")
    got = {r.id: r.scc_id for r in strongly_connected_components(e).collect()}
    assert got == truth(hand)
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert got[20] == 20 and got[21] == 21

    rng = random.Random(123)
    for n_edges in (45, 75):
        edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(n_edges)]
        e = spark.createDataFrame(edges, "src long, dst long")
        st: dict = {}
        got = {
            r.id: r.scc_id
            for r in strongly_connected_components(e, stats=st).collect()
        }
        assert got == truth(edges), f"mismatch at {n_edges} edges"

    empty = spark.createDataFrame([], "src long, dst long")
    out = strongly_connected_components(empty)
    assert out.columns == ["id", "scc_id"] and out.count() == 0
    # a self-loop-only vertex is a singleton SCC (and the most common
    # provenance-loop shape topo_layers routes here) — it must surface
    selfonly = spark.createDataFrame([(3, 3)], "src long, dst long")
    got = {r.id: r.scc_id for r in strongly_connected_components(selfonly).collect()}
    assert got == {3: 3}


def test_topo_layers_hand_graph_and_cycles(spark):
    """Kahn-peel layering: longest-path layers on a diamond-with-tail
    DAG; vertices on or downstream of a cycle get layer NULL; pure-cycle
    input yields all-NULL; empty input yields empty."""
    from cdrc_semantic_search_spark.operators.graph import topo_layers

    # diamond 1->(2,3)->4 plus long arm 1->5->6->4: layer(4) must be 3
    # (longest path), not 2 (shortest); 7->8 is a detached root pair
    dag = [(1, 2), (1, 3), (2, 4), (3, 4), (1, 5), (5, 6), (6, 4), (7, 8)]
    e = spark.createDataFrame(dag, "src long, dst long")
    st: dict = {}
    got = {r.id: r.layer for r in topo_layers(e, stats=st).collect()}
    assert got == {1: 0, 7: 0, 2: 1, 3: 1, 5: 1, 8: 1, 6: 2, 4: 3}
    assert st["depth"] == 4

    # cycle 10<->11 feeds 12: all three are unlayerable (NULL); the
    # clean chain 1->2 upstream keeps its layers
    mixed = [(1, 2), (10, 11), (11, 10), (11, 12)]
    got = {
        r.id: r.layer
        for r in topo_layers(
            spark.createDataFrame(mixed, "src long, dst long")
        ).collect()
    }
    assert got == {1: 0, 2: 1, 10: None, 11: None, 12: None}

    # self-loop is a cycle
    got = {
        r.id: r.layer
        for r in topo_layers(
            spark.createDataFrame([(5, 5), (5, 6)], "src long, dst long")
        ).collect()
    }
    assert got == {5: None, 6: None}

    out = topo_layers(spark.createDataFrame([], "src long, dst long"))
    assert out.columns == ["id", "layer"] and out.count() == 0

    # a DAG needing EXACTLY max_layers peel rounds completes (no false
    # depth raise); one round fewer raises
    chain = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r.id: r.layer for r in topo_layers(chain, max_layers=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2}
    with pytest.raises(RuntimeError, match="max_layers"):
        topo_layers(chain, max_layers=2).collect()


def test_cooccurrence_lift_hand_counts(spark):
    """lift = n_ab·N/(n_a·n_b) on a hand corpus: 4 docs, pair (a,b) in
    2 docs with df(a)=3, df(b)=2 → lift = 2·4/(3·2) = 4/3; pair (a,c)
    co-occurring exactly as independence predicts → lift = 1.0."""
    from cdrc_semantic_search_spark.operators.text_analysis import (
        cooccurrence_lift,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c"),
            (1, "a b"),
            (2, "a"),
            (3, "c d"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.token_a, r.token_b): (r.n_ab, r.lift)
        for r in cooccurrence_lift(docs, "doc_id", "text").collect()
    }
    assert got[("a", "b")] == (2, 2 * 4 / (3 * 2))
    assert got[("a", "c")] == (1, 1 * 4 / (3 * 2))
    assert got[("b", "c")] == (1, 1 * 4 / (2 * 2))
    assert got[("c", "d")] == (1, 1 * 4 / (2 * 1))
    assert ("a", "d") not in got  # never co-occur -> no row
    # min_pair_count prunes singletons
    pruned = {
        (r.token_a, r.token_b)
        for r in cooccurrence_lift(
            docs, "doc_id", "text", min_pair_count=2
        ).collect()
    }
    assert pruned == {("a", "b")}


# ------------------------------------------------------ transcript analytics
def test_tool_transition_counts(spark):
    from datetime import datetime

    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        tool_transition_counts,
    )

    ts = datetime(2026, 1, 1)
    rows = [
        # conv a: search -> (assistant turn skipped) -> search -> calc
        ("a", 0, "tool", "q", "search", ts),
        ("a", 1, "assistant", "x", "", ts),
        ("a", 2, "tool", "q", "search", ts),
        ("a", 3, "tool", "q", "calc", ts),
        # conv b: calc only
        ("b", 0, "tool", "q", "calc", ts),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {
        (r.prev_tool, r.tool): r.n for r in tool_transition_counts(df).collect()
    }
    assert got == {
        ("<start>", "search"): 1,
        ("search", "search"): 1,
        ("search", "calc"): 1,
        ("<start>", "calc"): 1,
    }


def test_turn_latency_and_role_balance(spark):
    from datetime import datetime, timedelta

    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        role_balance,
        turn_latency_stats,
    )

    t0 = datetime(2026, 1, 1)
    rows = [
        ("a", 0, "user", "x", "", t0),
        ("a", 1, "assistant", "x", "", t0 + timedelta(seconds=7)),
        ("a", 2, "user", "x", "", t0 + timedelta(seconds=10)),
        ("b", 0, "user", "x", "", t0),  # first turn: no gap
        ("b", 1, "assistant", "x", "", t0 + timedelta(seconds=5)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    lat = {r.role: (r.n_gaps, r.sum_gap_s, r.max_gap_s) for r in turn_latency_stats(df).collect()}
    assert lat == {"assistant": (2, 12, 7), "user": (1, 3, 3)}
    bal = {r.conv_id: (r.n_turns, r.n_user, r.n_assistant, r.n_tool) for r in role_balance(df).collect()}
    assert bal == {"a": (3, 2, 1, 0), "b": (2, 1, 1, 0)}


def test_redact_pii_order_and_counts(spark):
    from cdrc_semantic_search_spark.operators.text_analysis import redact_pii

    rows = [
        # userinfo URL must redact as ONE url, not url-fragment + email
        (1, "see https://bob@files.example.org/x and mail bob@ex.co now"),
        # dotted quad is IP, not phone; bare digit run is phone
        (2, "host 192.168.0.1 call +1 (415) 555-0199 end"),
        (3, "no pii here at all"),
        # vertical tab terminates the URL in EVERY engine (the explicit
        # [^ \t\n\x0B\f\r] class — Java \s and RE2 \s disagree on \x0B)
        (4, "go https://a.com\x0Bxyz end"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in redact_pii(df, "text").collect()}
    assert got[4].text_redacted == "go <URL>\x0Bxyz end"
    assert got[1].text_redacted == "see <URL> and mail <EMAIL> now"
    assert (got[1].n_url, got[1].n_email) == (1, 1)
    assert got[2].text_redacted == "host <IP> call <PHONE> end"
    assert (got[2].n_ipv4, got[2].n_phone) == (1, 1)
    assert got[3].text_redacted == "no pii here at all"
    assert (got[3].n_url, got[3].n_email, got[3].n_ipv4, got[3].n_phone) == (0, 0, 0, 0)


def test_semantic_dedup_keep_subshard_and_invariance(spark):
    """Sub-shard guard: a cap smaller than the biggest cluster splits the
    greedy scan without losing ids, stays partition-invariant, and every
    drop is justified by a >=threshold cosine to a kept member of the
    SAME (cluster, shard)."""
    import numpy as np

    from cdrc_semantic_search_spark.operators.dedup import (
        _semantic_keep_mask,
        semantic_dedup_keep,
    )
    from cdrc_semantic_search_spark.operators.similarity import train_centroids

    rng = np.random.default_rng(7)
    base = rng.normal(size=(4, 8)).astype(np.float32)
    rows = []
    for i in range(80):
        v = base[i % 4] + rng.normal(scale=0.05, size=8).astype(np.float32)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = train_centroids(base, n_centroids=2, seed=42)

    out = {
        parts: sorted(
            semantic_dedup_keep(
                spark,
                df.repartition(parts),
                "vec_id",
                "embedding",
                cent,
                threshold=0.9,
                max_cluster_size=10,
            ).collect()
        )
        for parts in (1, 7)
    }
    assert out[1] == out[7], "sub-sharded result depends on partitioning"
    got = out[1]
    assert [r["id"] for r in got] == list(range(80)), "ids lost or duplicated"
    kept = sum(1 for r in got if r["kept"])
    # tight clusters of 4 prototypes: far fewer than 80 survive, but at
    # least one per (cluster, shard) always does (the first scanned)
    assert 8 <= kept < 80

    # uncapped twin: greedy over each whole cluster must match the
    # shared kernel run directly
    full = sorted(
        semantic_dedup_keep(
            spark, df, "vec_id", "embedding", cent,
            threshold=0.9, max_cluster_size=None,
        ).collect()
    )
    from cdrc_semantic_search_spark.operators.similarity import _unit_rows

    by_cluster: dict[int, list[int]] = {}
    for r in full:
        by_cluster.setdefault(r["cluster"], []).append(r["id"])
    vecs = dict(rows)
    expect: dict[int, bool] = {}
    for cl, ids in by_cluster.items():
        ids.sort()
        u = _unit_rows(
            np.stack([np.asarray(vecs[i], dtype=np.float32) for i in ids])
        ).astype(np.float64)
        for i, k in zip(ids, _semantic_keep_mask(u, 0.9)):
            expect[i] = bool(k)
    assert {r["id"]: r["kept"] for r in full} == expect


def test_bigram_cross_entropy_hand_values(spark):
    """Add-one bigram LM on ref 'a b a b': cb(a,b)=2, cb(b,a)=1,
    cu(a)=2, cu(b)=1, V=2. Doc 'a b c' -> terms ln(3/4), ln(1/3);
    ce = -(ln .75 + ln 1/3)/2 = 0.693147. Single-token docs excluded."""
    from cdrc_semantic_search_spark.operators.text_analysis import (
        bigram_cross_entropy,
    )

    ref = spark.createDataFrame([(100, "a b a b")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "x")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bigram_cross_entropy(
        docs, ref, "doc_id", "text"
    ).collect()}
    assert set(out) == {1}
    assert out[1]["n_bigrams"] == 2
    assert abs(out[1]["ce"] - 0.693147) < 1e-9

    # a single-token ref doc contributes NO bigrams but DOES extend the
    # vocabulary (V=3): terms ln(3/5), ln(1/4) -> ce = 0.948560
    ref2 = spark.createDataFrame(
        [(100, "a b a b"), (101, "z")], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r for r in bigram_cross_entropy(
        docs, ref2, "doc_id", "text"
    ).collect()}
    assert abs(out2[1]["ce"] - 0.948560) < 1e-9


def test_clustering_pair_quality_hand_values(spark):
    from cdrc_semantic_search_spark.operators.canonicalize import (
        clustering_pair_quality,
    )

    # clusters: {a,b,c} + {d,e}; gold: {a,b} {c,d} {e}
    # tp: (a,b) from cluster1 -> 1; pred: C(3,2)+C(2,2)=3+1=4; gold: 1+1+0=2
    rows = [
        ("a", "k1", "g1"),
        ("b", "k1", "g1"),
        ("c", "k1", "g2"),
        ("d", "k2", "g2"),
        ("e", "k2", "g3"),
        ("f", "k3", None),  # unlinked: excluded from the universe
    ]
    df = spark.createDataFrame(
        rows, "surface string, canonical_surface string, entity_id string"
    )
    out = clustering_pair_quality(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_items, r.tp_pairs, r.pred_pairs, r.gold_pairs) == (5, 1, 4, 2)
    assert abs(r.precision - 0.25) < 1e-12
    assert abs(r.recall - 0.5) < 1e-12

    # perfect clustering -> P = R = 1
    perfect = spark.createDataFrame(
        [("a", "k1", "g1"), ("b", "k1", "g1"), ("c", "k2", "g2"), ("d", "k2", "g2")],
        "surface string, canonical_surface string, entity_id string",
    )
    p = clustering_pair_quality(perfect).collect()[0]
    assert (p.tp_pairs, p.pred_pairs, p.gold_pairs) == (2, 2, 2)
    assert p.precision == 1.0 and p.recall == 1.0


def test_qa_pair_mining_hand_values(spark):
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        qa_pair_mining,
    )

    rows = [
        ("c1", 0, "user", "what is x?", "", None),
        ("c1", 1, "assistant", "x is 42", "", None),
        ("c1", 2, "user", "thanks", "", None),          # no '?'
        ("c1", 3, "user", "and y?", "", None),
        ("c1", 4, "tool", "lookup", "sql", None),       # next not assistant
        ("c2", 0, "user", "why?", "", None),            # last turn: no next
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    got = {(r.conv_id, r.q_turn_idx): r for r in qa_pair_mining(df).collect()}
    assert set(got) == {("c1", 0)}
    r = got[("c1", 0)]
    assert (r.a_turn_idx, r.q_len, r.a_len) == (1, 10, 7)


def test_tool_retry_runs_hand_values(spark):
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        tool_retry_runs,
    )

    # tool-call sequence per conv skips non-tool turns: c1 = sql, sql,
    # (user), sql, browser -> one sql run of 3 (intervening user turn
    # does NOT break the run), browser singleton dropped
    rows = [
        ("c1", 0, "tool", "q", "sql", None),
        ("c1", 1, "tool", "q", "sql", None),
        ("c1", 2, "user", "hm", "", None),
        ("c1", 3, "tool", "q", "sql", None),
        ("c1", 4, "tool", "q", "browser", None),
        ("c2", 0, "tool", "q", "python", None),
        ("c2", 1, "tool", "q", "python", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    got = sorted(
        (r.conv_id, r.tool, r.start_turn_idx, r.run_len)
        for r in tool_retry_runs(df).collect()
    )
    assert got == [("c1", "sql", 0, 3), ("c2", "python", 0, 2)]


def test_topic_segments_hand_values(spark):
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        topic_segments,
    )

    # orthogonal vectors force boundaries; identical vectors never do
    e1, e2 = [1.0, 0.0], [0.0, 1.0]
    rows = [
        ("c1", 0, e1),  # first turn: always segment 1
        ("c1", 1, e1),  # cos=1 -> same segment
        ("c1", 2, e2),  # cos=0 < 0.15 -> segment 2
        ("c1", 3, e2),  # same segment
        ("c2", 0, e2),  # new conversation restarts at 1
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, vec array<float>"
    )
    got = {
        (r.conv_id, r.turn_idx): r.segment_id
        for r in topic_segments(df, "vec", threshold=0.15).collect()
    }
    assert got == {
        ("c1", 0): 1,
        ("c1", 1): 1,
        ("c1", 2): 2,
        ("c1", 3): 2,
        ("c2", 0): 1,
    }


def test_salient_turns_tiebreak_and_centroid(spark):
    from cdrc_semantic_search_spark.operators.transcript_analytics import (
        salient_turns,
    )

    # c1: two identical vectors tie at the centroid -> earliest wins;
    # the third (orthogonal-ish) turn ranks last
    rows = [
        ("c1", 0, [1.0, 0.0]),
        ("c1", 1, [1.0, 0.0]),
        ("c1", 2, [0.0, 1.0]),
        ("c2", 5, [0.5, 0.5]),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, vec array<float>"
    )
    got = sorted(
        (r.conv_id, r.rank, r.turn_idx)
        for r in salient_turns(df, "vec", top_k=2).collect()
    )
    assert got == [("c1", 1, 0), ("c1", 2, 1), ("c2", 1, 5)]


def test_label_propagation_two_cliques(spark):
    """Two disjoint triangles linked by nothing: every member adopts its
    clique's min id; the bridge-free split is stable across rounds."""
    from cdrc_semantic_search_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
        "src int, dst int",
    )
    handle = []
    got = {
        r["id"]: r["label"]
        for r in label_propagation(edges, n_rounds=4, cache_handle=handle).collect()
    }
    for df in handle:
        df.unpersist()
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_label_propagation_partition_invariance(spark):
    """Synchronous update + min-label ties = result independent of input
    partitioning (the determinism-under-reshuffle contract)."""
    from cdrc_semantic_search_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(40)] + [(3, 40), (40, 41)],
        "src int, dst int",
    )
    a = sorted(map(tuple, label_propagation(edges, n_rounds=3).collect()))
    b = sorted(
        map(tuple, label_propagation(edges.repartition(7), n_rounds=3).collect())
    )
    assert a == b


def test_random_walks_hops_are_edges(spark):
    """Every consecutive (step k, step k+1) pair must be an edge of the
    undirected graph, every vertex starts n_walks walks, and the result
    is partition-invariant (hash-routed hops, no RNG state)."""
    from cdrc_semantic_search_spark.operators.graph import random_walks

    raw = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4), (5, 1)]
    edges = spark.createDataFrame(raw, "src int, dst int")
    out = random_walks(edges, walk_length=3, n_walks=2, seed=7)
    rows = sorted(map(tuple, out.collect()))
    und = set()
    for s, d in raw:
        und.add((s, d))
        und.add((d, s))
    walks: dict[str, dict[int, int]] = {}
    for wid, step, node in rows:
        walks.setdefault(wid, {})[step] = node
    assert len(walks) == 5 * 2  # |V| * n_walks
    for wid, path in walks.items():
        assert sorted(path) == [0, 1, 2, 3]
        assert path[0] == int(wid.split(":")[0])
        for k in range(3):
            assert (path[k], path[k + 1]) in und, (wid, k)
    rows2 = sorted(
        map(tuple, random_walks(edges.repartition(5), walk_length=3, n_walks=2, seed=7).collect())
    )
    assert rows == rows2


def test_random_walks_max_neighbors_cap(spark):
    """A star hub capped below its degree can only hop to the sorted
    prefix of its neighbors."""
    from cdrc_semantic_search_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "src int, dst int"
    )
    out = random_walks(edges, walk_length=2, n_walks=3, seed=1, max_neighbors=3)
    for wid, step, node in out.collect():
        if step > 0:  # step 0 is the start vertex itself, cap-exempt
            assert node in {0, 1, 2, 3}, (wid, step, node)


def test_modularity_hand_values(spark):
    """Two triangles + one bridge, labeled by clique: m=7, intra=6,
    degrees all 2 except bridge endpoints 3 → Σd_c² = (2+2+3)² + (2+2+3)²
    = 98, Q = 6/7 − 98/196 = 0.357142857…; and the all-one-community
    labeling scores Q = 1 − (2m)²/(4m²) = 0."""
    from cdrc_semantic_search_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "src int, dst int",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 2), (11, 2), (12, 2)],
        "id int, label int",
    )
    r = modularity(edges, labels).collect()[0]
    assert (r["m_edges"], r["intra_edges"], r["sum_deg_sq"]) == (7, 6, 98)
    assert abs(r["modularity"] - (6 / 7 - 98 / 196)) < 1e-15
    one = labels.select("id", F.lit(1).alias("label"))
    r1 = modularity(edges, one).collect()[0]
    assert r1["modularity"] == 0.0


def test_burst_detection_hand_values(spark):
    """Counts 2,2,2 then 4 on day 4 → burst (4 > 1.5×2); day 5 count 3
    vs mean (2+2+4)/3 = 8/3 → 3 > 4 is false; first three days are
    cold-start false."""
    import datetime

    from cdrc_semantic_search_spark.operators.temporal import burst_detection

    rows = []
    per_day = {1: 2, 2: 2, 3: 2, 4: 4, 5: 3}
    for d, n in per_day.items():
        for i in range(n):
            rows.append(("click", datetime.datetime(2024, 1, d, 10, i)))
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        str(r["day"]): (r["cnt"], r["sum_prev"], r["is_burst"])
        for r in burst_detection(ev, "event_type").collect()
    }
    assert got["2024-01-01"] == (2, 0, False)
    assert got["2024-01-02"] == (2, 2, False)
    assert got["2024-01-03"] == (2, 4, False)
    assert got["2024-01-04"] == (4, 6, True)
    assert got["2024-01-05"] == (3, 8, False)


def test_walk_skipgram_pairs_hand_values(spark):
    """One walk a:0 = [1,2,3,4], window 2 → ordered pairs (1,2),(1,3),
    (2,3),(2,4),(3,4); a second walk [1,2,1,2] exercises repeat
    counting: (1,2)x2, (2,1)x1, (1,1)x1, (2,2)x1."""
    from cdrc_semantic_search_spark.operators.graph import walk_skipgram_pairs

    walks = spark.createDataFrame(
        [("a:0", 0, 1), ("a:0", 1, 2), ("a:0", 2, 3), ("a:0", 3, 4),
         ("b:0", 0, 1), ("b:0", 1, 2), ("b:0", 2, 1), ("b:0", 3, 2)],
        "walk_id string, step int, node int",
    )
    got = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in walk_skipgram_pairs(walks, window=2).collect()
    }
    assert got == {
        (1, 2): 3,  # a:(0,1) + b:(0,1) + b:(2,3)
        (1, 3): 1,
        (2, 3): 1,
        (2, 4): 1,
        (3, 4): 1,
        (2, 1): 1,  # b:(1,2)
        (1, 1): 1,  # b:(0,2)
        (2, 2): 1,  # b:(1,3)
    }


def test_count_min_merge_and_overestimate(spark):
    """CMS(A ∪ B) must equal CMS(A) ⊕ CMS(B) (elementwise counter sum,
    exact), and every point estimate must be ≥ the true count."""
    from cdrc_semantic_search_spark.operators.sketch import (
        cms_estimate,
        count_min_sketch,
    )

    rows = [(f"k{i % 17}",) for i in range(500)] + [("hot",)] * 60
    df = spark.createDataFrame(rows, "key string")
    a = df.filter(F.crc32(F.col("key").cast("binary")) % 2 == 0)
    b = df.filter(F.crc32(F.col("key").cast("binary")) % 2 == 1)
    whole = count_min_sketch(df, "key", depth=3, width=16)
    merged = (
        count_min_sketch(a, "key", depth=3, width=16)
        .unionAll(count_min_sketch(b, "key", depth=3, width=16))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )
    exact = {
        r["key"]: r["c"]
        for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    est = {
        r["key"]: r["cms_est"]
        for r in cms_estimate(
            whole, df.select("key").distinct(), "key", depth=3, width=16
        ).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    # width 16 over 18 keys guarantees at least one collision somewhere;
    # the sketch is an overestimate, not a count
    assert sum(est.values()) >= sum(exact.values())


def test_node2vec_walks_bias_and_invariance(spark):
    """On a 6-clique, raising p (pq-scaled: return weight q vs common
    p·q) must cut immediate backtracks versus the uniform walk; hops
    stay on edges; repartitioning the input changes nothing."""
    from cdrc_semantic_search_spark.operators.graph import (
        random_walks_node2vec,
    )

    raw = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    edges = spark.createDataFrame(raw, "src int, dst int")

    def backtracks(p, q):
        out = random_walks_node2vec(
            edges, walk_length=6, n_walks=8, seed=3, p=p, q=q
        ).collect()
        paths: dict[str, dict[int, int]] = {}
        for r in out:
            paths.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
        und = {(a, b) for a, b in raw} | {(b, a) for a, b in raw}
        n_back = 0
        for path in paths.values():
            for s in range(1, 6):
                assert (path[s], path[s + 1]) in und
                if s >= 1 and path.get(s - 1) == path[s + 1]:
                    n_back += 1
        return n_back

    uniform = backtracks(1, 1)
    averse = backtracks(40, 1)  # return weight q=1 vs common 40
    assert averse < uniform, (averse, uniform)
    a = random_walks_node2vec(edges, walk_length=3, n_walks=2, seed=5, p=2, q=3)
    b = random_walks_node2vec(
        edges.repartition(7), walk_length=3, n_walks=2, seed=5, p=2, q=3
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_sparsify_topk_edges_hand_values(spark):
    """Star hub 0 with weighted spokes 1..5 (weights 5..1), k=2: the hub
    keeps its two heaviest spokes, but every leaf keeps its ONLY edge —
    so all 5 edges survive via the leaf side; raising to a path graph
    shows real drops: 1-2(w1) 2-3(w9) 3-4(w9) 4-5(w1), k=1 → 2-3 and
    3-4 survive (each endpoint's max), 1-2 survives via leaf 1, 4-5 via
    leaf 5 — drop only happens when BOTH endpoints outrank the edge."""
    from cdrc_semantic_search_spark.operators.graph import sparsify_topk_edges

    star = spark.createDataFrame(
        [(0, i, 6 - i) for i in range(1, 6)], "src int, dst int, weight int"
    )
    kept = sparsify_topk_edges(star, k=2)
    assert kept.count() == 5  # leaves keep their only edge
    tri = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 9), (1, 3, 9), (2, 4, 1), (3, 4, 1), (1, 4, 2)],
        "src int, dst int, weight int",
    )
    kept2 = {
        (r["src"], r["dst"]) for r in sparsify_topk_edges(tri, k=1).collect()
    }
    # every node's single strongest edge: 1→(1,3,9), 2→(2,3,9), 3→tie 9,9
    # → neighbor asc keeps (2,3); 4→(1,4,2). Dropped: (1,2,1),(2,4,1),(3,4,1)
    assert kept2 == {(1, 3), (2, 3), (1, 4)}


def test_decayed_activity_exact_and_order_independent(spark):
    """Hand value: counts (3, 2, 4) on ages (0, 1, 2) → 3 + 1.0 + 1.0 =
    5.0 exactly; a 40-day-old burst hits the age cap (25) and contributes
    cnt·2⁻²⁵ exactly. Repartitioning must reproduce identical BITS —
    dyadic partial sums never round, so summation order is irrelevant."""
    import datetime

    from cdrc_semantic_search_spark.operators.temporal import decayed_activity

    base = datetime.datetime(2024, 3, 1, 12, 0)
    rows = []
    for age, n in ((0, 3), (1, 2), (2, 4)):
        for i in range(n):
            rows.append(("a", base - datetime.timedelta(days=age, minutes=i)))
    for i in range(7):
        rows.append(("b", base - datetime.timedelta(days=40, minutes=i)))
    rows.append(("b", base))
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        r["key"]: (r["decayed"], r["total_cnt"])
        for r in decayed_activity(ev, "event_type").collect()
    }
    assert got["a"] == (5.0, 9)
    assert got["b"] == (1.0 + 7 * 2.0 ** -25, 8)
    again = {
        r["key"]: (r["decayed"], r["total_cnt"])
        for r in decayed_activity(ev.repartition(13), "event_type").collect()
    }
    assert got == again  # bit-exact, not approx


def test_clustering_coefficients_hand_values(spark):
    """Triangle 1-2-3 with pendant 4 on 3: nodes 1,2 → deg 2, 1
    triangle, coeff 1.0; node 3 → deg 3, 1 triangle, coeff 2/6; node 4 →
    deg 1, coeff 0.0."""
    from cdrc_semantic_search_spark.operators.graph import (
        clustering_coefficients,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src int, dst int"
    )
    got = {
        r["id"]: (r["deg"], r["tri_cnt"], r["coeff"])
        for r in clustering_coefficients(edges).collect()
    }
    assert got == {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        3: (3, 1, 2.0 / 6.0),
        4: (1, 0, 0.0),
    }


def test_rrf_fuse_hand_values(spark):
    """Lists A = [x(3.0), y(2.0)], B = [y(9.0), z(1.0)], k=2: y fuses
    1/(2+2) + 1/(2+1) = 0.5833…, x = 1/3 from A only, z = 1/4 from B
    only; score ties rank by id asc."""
    from cdrc_semantic_search_spark.functions.ranking import rrf_fuse

    a = spark.createDataFrame([("x", 3.0), ("y", 2.0)], "id string, score double")
    b = spark.createDataFrame([("y", 9.0), ("z", 1.0)], "id string, score double")
    got = {
        r["id"]: (r["rank_a"], r["rank_b"], r["rrf"])
        for r in rrf_fuse(a, b, k=2).collect()
    }
    assert got["x"] == (1, None, 1.0 / 3.0)
    assert got["y"] == (2, 1, 1.0 / 4.0 + 1.0 / 3.0)
    assert got["z"] == (None, 2, 1.0 / 4.0)


def test_community_conductance_hand_values(spark):
    """Two triangles bridged by one edge, labeled by clique: each side
    has cut 1, volume 2+2+3 = 7, total 14 → φ = 1/7; whole-graph
    labeling → cut 0 → φ = 0.0 (not NaN)."""
    from cdrc_semantic_search_spark.operators.graph import (
        community_conductance,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "src int, dst int",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 2), (11, 2), (12, 2)],
        "id int, label int",
    )
    got = {
        r["label"]: (r["n_nodes"], r["cut_edges"], r["volume"], r["conductance"])
        for r in community_conductance(edges, labels).collect()
    }
    assert got == {1: (3, 1, 7, 1.0 / 7.0), 2: (3, 1, 7, 1.0 / 7.0)}
    one = labels.select("id", F.lit(9).alias("label"))
    r = community_conductance(edges, one).collect()[0]
    assert (r["cut_edges"], r["conductance"]) == (0, 0.0)


def test_label_propagation_bipartite_damping(spark):
    """Plain synchronous LPA 2-cycles on bipartite structure (labels
    swap sides each round); the self-vote makes the update a
    fixed-point instead: on K2 the labels settle at min(id) and stay
    settled for both round parities (3 and 4 rounds agree)."""
    from cdrc_semantic_search_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(1, 2)], "src int, dst int")
    # without self-vote: round 1 swaps (1→2, 2→1), round 2 swaps back —
    # a 2-cycle. With it, each vertex sees votes {self:1, nbr:1} → tie
    # → min label → both converge to 1 and STAY.
    r3 = sorted(map(tuple, label_propagation(edges, n_rounds=3).collect()))
    r4 = sorted(map(tuple, label_propagation(edges, n_rounds=4).collect()))
    assert r3 == r4 == [(1, 1), (2, 1)]
