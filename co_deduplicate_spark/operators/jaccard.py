"""Exact token-set Jaccard similarity via inverted-index equi-join.

This is the *verification* operator: LSH (operators/lsh.py) proposes
candidate pairs, this computes their true Jaccard. It can also run
standalone as an exhaustive n-gram-Jaccard dedup at moderate scale — the
token-posting join prunes every pair with zero overlap, the Spark-native
analogue of the reference's inverted-index candidate retrieval
(/root/reference/src/deduplicateQueryBuilder.js:75-107: every ``match``
clause is a Lucene term lookup).

Shingle sets are one field of the shared Arrow text kernel
(:func:`token_sets`). ``verify_candidates`` is the shingle sets of the
candidate docs, then the :func:`verify_pairs` join half; the pipeline runs
the join half directly over its persisted kernel frame.

Scale notes:
  * postings are (token, doc) pairs — the self-join shuffles on token;
    AQE skew-join splits hot tokens.
  * at true 100 TB scale this operator is only ever fed LSH candidates;
    the exhaustive mode exists for small corpora and for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .minhash import text_features


def token_sets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               shingle_k: int = 1) -> DataFrame:
    """(id, tokens array<bigint>, n_tokens) — distinct token k-shingles as
    64-bit hashes: the ``shingles`` field of the shared Arrow text kernel
    (minhash.py::text_features_udf, the same memoized blake2b+splitmix
    hashes the MinHash signatures consume).

    r6 optimization (guide §2.3 "shuffle fewer bytes" / §4.2): shingles
    are HASHED in the kernel instead of built as strings. Downstream
    postings joins shuffle 8-byte longs instead of ~25-40-byte shingle
    strings, ``array_intersect`` compares longs, and the kernel skips the
    per-shingle ``" ".join`` entirely. Set cardinalities — and therefore
    every jaccard_ppm — are unchanged barring a ~2⁻⁶⁴ in-document hash
    collision (the same accepted trade as suffix_window_pairs'
    rolling-hash keys; the oracle gate re-proves value equality every
    round). Measured: shingle_jaccard_pairs 3.03 → 2.80 s from this change
    alone (2.15 s in the end-of-round battery).

    Output schema: ``tokens`` is ``array<bigint>`` (shingle hashes); it
    used to be ``array<string>`` (the shingle text). A consumer that needs
    the strings must call ``minhash.shingles_py`` itself.

    The kernel always accent-folds (tokens_py semantics == the DuckDB
    oracle's strip_accents; folding is the identity on ASCII corpora).
    """
    return text_features(docs, ("shingles", "n_shingles"), id_col, text_col,
                         shingle_k=shingle_k).select(
        "doc", F.col("shingles").alias("tokens"), F.col("n_shingles").alias("n_tokens"))


def jaccard_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  threshold: float = 0.8, shingle_k: int = 1) -> DataFrame:
    """All pairs (src < dst) with token-set Jaccard >= threshold.

    Exhaustive — recall 1.0 by construction: every overlapping pair
    survives the postings join.
    """
    # materialize the shingle table once — it feeds both join sides
    ts = token_sets(docs, id_col, text_col, shingle_k).localCheckpoint()
    postings = ts.select("doc", "n_tokens", F.explode("tokens").alias("token"))
    a = postings.alias("a")
    b = postings.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("src"), F.col("b.doc").alias("dst"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("a.n_tokens").alias("na"),
            F.first("b.n_tokens").alias("nb"),
        )
    )
    # jaccard_ppm is exact integer arithmetic (inter*1e6 div union) — the
    # cross-engine comparable value; `jaccard` is the human-facing double.
    union = F.col("na") + F.col("nb") - F.col("inter")
    return (
        inter.withColumn("jaccard_ppm", F.expr("(inter * 1000000L) div (na + nb - inter)"))
        .withColumn("jaccard", F.round(F.col("inter") / union, 6))
        .filter(F.col("jaccard_ppm") >= int(threshold * 1_000_000))
        .select("src", "dst", "jaccard", "jaccard_ppm")
    )


def verify_candidates(candidates: DataFrame, docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", threshold: float = 0.8,
                      shingle_k: int = 3, candidates_distinct: bool = False) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (src, dst): the
    candidate docs' shingle sets (:func:`token_sets`), then
    :func:`verify_pairs`. Returns (src, dst, jaccard, jaccard_ppm) for
    pairs passing the threshold.

    ``candidates_distinct=True`` (r6, guide §2.4): skip the internal
    dedupe when the caller guarantees unique pairs — every blocking stage
    in this repo (candidate_pairs, the incremental probe) already ends in
    ``.distinct()``, so the old unconditional re-distinct was a second
    full exchange of the candidate set per verification.
    """
    # The candidate plan (pandas-UDF signatures + LSH self-join) is consumed
    # by two joins below; checkpoint it once so Spark doesn't re-execute
    # the whole upstream per branch. Candidates are (src, dst) pairs — tiny
    # relative to the corpus at any scale.
    cand = candidates.select("src", "dst")
    if not candidates_distinct:
        cand = cand.distinct()
    cand = cand.localCheckpoint()

    # Only candidate docs need shingling — semi-join prunes the corpus
    # first (at 100 TB this skips re-shingling the non-candidate majority).
    cand_docs = (
        cand.select(F.col("src").alias("doc"))
        .union(cand.select(F.col("dst").alias("doc")))
        .distinct()
    )
    pruned = docs.join(
        cand_docs.withColumnRenamed("doc", id_col), id_col, "left_semi"
    )
    # Shingle-set table feeds both join sides — materialize once.
    ts = token_sets(pruned, id_col, text_col, shingle_k).localCheckpoint()
    return verify_pairs(cand, ts, threshold)


def verify_pairs(cand: DataFrame, ts: DataFrame, threshold: float) -> DataFrame:
    """The verification joins: distinct (src, dst) pairs against a
    (doc, tokens, n_tokens) shingle-set frame, which is read once per side
    (pass a materialized one).

    Exact intersection per pair via array_intersect (hash-set, O(n+m))
    directly on the two shingle arrays: two shuffle joins keyed on doc id,
    no postings explode, no pair-level re-aggregation.
    """
    return (
        cand.join(
            ts.select(F.col("doc").alias("src"), F.col("tokens").alias("_ta"),
                      F.col("n_tokens").alias("na")),
            "src",
        )
        .join(
            ts.select(F.col("doc").alias("dst"), F.col("tokens").alias("_tb"),
                      F.col("n_tokens").alias("nb")),
            "dst",
        )
        .filter((F.col("na") + F.col("nb")) > 0)  # ANSI div-by-zero guard (two empty docs)
        .withColumn("inter", F.size(F.array_intersect("_ta", "_tb")))
        .withColumn("jaccard_ppm", F.expr("(inter * 1000000L) div (na + nb - inter)"))
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .filter(F.col("jaccard_ppm") >= int(threshold * 1_000_000))
        .select("src", "dst", "jaccard", "jaccard_ppm")
    )
