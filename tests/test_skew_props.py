"""Skew utilities + property-based determinism/recall checks."""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from co_deduplicate_spark.config import DedupConfig
from co_deduplicate_spark.operators.minhash import minhash_py, shingles_py
from co_deduplicate_spark.operators.skew import salted_collect_sets, salted_count
from co_deduplicate_spark.operators.substring import suffix_window_pairs

CFG = DedupConfig()


# ------------------------------------------------------------------ skew
@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (80% of rows) + long tail — the Zipfian band shape
    rows = [("hot" if i % 5 != 0 else f"k{i % 97}", i, float(i % 13)) for i in range(20000)]
    return spark.createDataFrame(rows, "key string, rid long, val double").cache()


def test_salted_count_matches_plain(spark, skewed):
    plain = {r["key"]: r["count"] for r in skewed.groupBy("key").count().collect()}
    salted = {
        r["key"]: r["count"]
        for r in salted_count(skewed, ["key"], F.col("rid"), n_salts=8).collect()
    }
    assert salted == plain


def test_salted_collect_set_matches_plain(spark):
    rows = [("a", f"m{i % 7}", f"s{i % 3}") for i in range(1000)] + [("b", "x", None)]
    df = spark.createDataFrame(rows, "key string, member string, source string")
    plain = {
        r["key"]: (r["m"], r["s"], r["n"])
        for r in df.groupBy("key").agg(
            F.array_sort(F.collect_set("member")).alias("m"),
            F.array_sort(F.collect_set("source")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    salted = {
        r["key"]: (r["set_member"], r["set_source"], r["count"])
        for r in salted_collect_sets(
            df, ["key"], ["member", "source"], F.col("member"), n_salts=4
        ).collect()
    }
    assert salted == plain
    assert salted["b"] == (["x"], [], 1)


# ------------------------------------------------- substring shared windows
def test_suffix_window_pairs(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (1, base),
        (2, "prefix words here " + " ".join(f"tok{i}" for i in range(30, 60)) + " suffix tail"),
        (3, "completely different text " + " ".join(f"z{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["src"], r["dst"]): r["shared_windows"] for r in
             suffix_window_pairs(df, window_tokens=30).collect()}
    assert (1, 2) in pairs  # docs 1 and 2 share the 30-token window tok30..tok59
    assert not any(3 in p for p in pairs)


# ----------------------------------------------------- hypothesis properties
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.text(alphabet="abcdefg hij", min_size=0, max_size=200), st.integers(1, 5))
def test_shingles_deterministic_and_bounded(text, k):
    a = shingles_py(text, k)
    assert a == shingles_py(text, k)
    assert len(a) == len(set(a))
    from co_deduplicate_spark.functions.normalize import tokens_py

    toks = tokens_py(text)
    if toks:
        assert len(a) == max(1, len(set(" ".join(toks[i:i + k]) for i in range(max(1, len(toks) - k + 1)))))
    else:
        assert a == []


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(0, 2**31 - 1))
def test_minhash_estimator_tracks_jaccard(seed):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    base = [vocab[rng.randrange(400)] for _ in range(120)]
    edited = list(base)
    n_edits = rng.randrange(0, 15)
    for _ in range(n_edits):
        edited[rng.randrange(len(edited))] = vocab[rng.randrange(400)]
    t1, t2 = " ".join(base), " ".join(edited)
    s1, s2 = minhash_py(t1, CFG), minhash_py(t2, CFG)
    est = sum(a == b for a, b in zip(s1, s2)) / CFG.num_perms
    sh1, sh2 = set(shingles_py(t1, CFG.shingle_k)), set(shingles_py(t2, CFG.shingle_k))
    true_j = len(sh1 & sh2) / len(sh1 | sh2)
    assert abs(est - true_j) < 0.18  # 128 perms → σ ≈ 0.044; 4σ bound


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.text(alphabet="abcdefg hij", min_size=0, max_size=300), st.integers(1, 5))
def test_shingle_hashes_cardinality_matches_string_shingles(text, k):
    """The vectorized hashed-shingle kernel sees exactly the same distinct
    set as the string shingler (collisions are 2^-64-scale — a mismatch
    here means a kernel bug, not bad luck), and is deterministic."""
    import numpy as np

    from co_deduplicate_spark.functions.normalize import tokens_py
    from co_deduplicate_spark.operators.minhash import shingle_hashes

    toks = tokens_py(text)
    hs = shingle_hashes(toks, k)
    if not toks:
        assert hs is None
        return
    assert len(hs) == len(shingles_py(text, k))
    assert np.array_equal(hs, shingle_hashes(tokens_py(text), k))
    # unigrams vs k-grams must not collide into each other's key space
    if k > 1 and len(toks) >= k:
        uni = shingle_hashes(toks, 1)
        assert len(np.intersect1d(hs, uni)) == 0
