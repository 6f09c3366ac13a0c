"""Focused tests for the round-6 optimization internals.

Each test pins an operator-internal change to the invariant that makes it
value-preserving: hashed shingle sets keep every cardinality the string
sets had, the digest-based simhash token hash equals the hex-parse form,
and the aggregate top-1 picks exactly the window's row.
"""

from __future__ import annotations

import random
import string

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_token_sets_hashed_cardinalities_match_string_shingles(spark):
    """token_sets now emits 64-bit shingle hashes; every (n_tokens, set)
    cardinality must equal the old string-shingle form's — that is what
    keeps every jaccard_ppm identical."""
    from co_deduplicate_spark.operators.jaccard import token_sets
    from co_deduplicate_spark.operators.minhash import shingles_py

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "a b",                      # shorter than k -> one whole-text shingle
        "",                         # empty -> zero shingles
        None,                       # null -> zero shingles
        "x y x y x y x y",          # repeated shingles collapse
        "Café déjà vu — naïve!",    # accent folding inside the kernel
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    for k in (1, 3):
        rows = {r["doc"]: r for r in token_sets(df, shingle_k=k).collect()}
        for i, t in enumerate(texts):
            expect = len(shingles_py(t, k))
            assert rows[i]["n_tokens"] == expect, (t, k)
            assert len(rows[i]["tokens"]) == expect, (t, k)
            # hashes are distinct (the cardinality-preservation property)
            assert len(set(rows[i]["tokens"])) == expect, (t, k)


def test_simhash_digest_hash_equals_hex_parse():
    """_token_hash60 (digest bytes, memoized) must equal the documented
    oracle form int(md5_hexdigest[:15], 16) for any token."""
    from co_deduplicate_spark.operators.simhash import _token_hash60, token_hash_py

    rng = random.Random(7)
    for _ in range(500):
        tok = "".join(rng.choices(string.printable, k=rng.randint(0, 40)))
        import hashlib

        legacy = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
        assert _token_hash60(tok) == legacy
        assert token_hash_py(tok, 60) == legacy


def test_top1_aggregate_equals_window_row(spark):
    """events_top_type's min(struct(-n, type)) must select exactly the
    row_number-over-(n desc, type asc) winner, ties included."""
    rows = [
        ("u1", "click", 5), ("u1", "view", 5), ("u1", "buy", 3),   # tie on n
        ("u2", "view", 9), ("u2", "click", 1),
        ("u3", "a", 1), ("u3", "b", 1), ("u3", "c", 1),            # all tied
    ]
    counts = spark.createDataFrame(rows, "user_id string, event_type string, n long")
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    windowed = {
        (r["user_id"], r["event_type"], r["n"])
        for r in counts.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").drop("rn").collect()
    }
    agg = {
        (r["user_id"], r["top_type"], r["n"])
        for r in counts.groupBy("user_id")
        .agg(F.min(F.struct((-F.col("n")).alias("_neg_n"),
                            F.col("event_type").alias("_t"))).alias("_s"))
        .select("user_id", F.col("_s._t").alias("top_type"),
                (-F.col("_s._neg_n")).alias("n"))
        .collect()
    }
    assert agg == {(u, t, n) for (u, t, n) in windowed}

