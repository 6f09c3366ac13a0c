"""Exact token-subsequence containment (engine 3: substring duplication).

The north_star's "suffix-array pass for exact substring duplication",
re-expressed Spark-first: rather than a literal distributed suffix array,
containment of one page's full token sequence inside another is detected
with an *anchor-shingle* blocking join + exact verification:

  1. every doc emits all k-token shingles (the container side);
  2. a doc that could be contained emits only its FIRST shingle (anchor);
  3. anchor ∈ container's shingle set  ⇒  candidate (exact: if A's token
     sequence is contiguous in B, A's first k-shingle is one of B's
     k-shingles — recall 1.0 for docs with ≥ k tokens);
  4. verify with a single JVM ``contains`` over space-joined token strings
     (padded with sentinels so matches are token-aligned).

This finds *full-document* containment (the planted fixture case —
FIXTURES.md §1 "page embeds another page's full text"). Partial-overlap
substring mining (any shared window ≥ L) is ``suffix_window_pairs`` below:
the shared text kernel's window keys (minhash.py::text_features_udf), then
the :func:`window_pairs` join half, which the pipeline's window engine runs
directly over its persisted kernel frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .minhash import text_features


def containment_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      min_tokens: int = 12, shingle_k: int = 3,
                      fold: bool = True) -> DataFrame:
    """(inner, outer) pairs where inner's full token sequence appears
    contiguously inside outer's and inner has >= min_tokens tokens.

    Includes mutually-contained (i.e. token-identical) pairs in both
    directions; excludes self-pairs.

    ``fold=False`` (r6, guide §4) skips the Arrow accent-fold pass for
    corpora known to be ASCII-clean (folding is the identity there) — the
    whole plan then stays in whole-stage codegen.
    """
    # Ordered token sequences (not token_sets — that dedups into set
    # semantics; containment needs the raw sequence).
    from ..functions.normalize import fold_accents_udf, tokens_expr

    folded = fold_accents_udf(F.col(text_col)) if fold else F.col(text_col)
    base = docs.select(F.col(id_col).alias("doc"), folded.alias("_t"))
    seqs = base.select(
        "doc",
        F.concat(F.lit(" "), F.concat_ws(" ", tokens_expr(F.col("_t"))), F.lit(" ")).alias("tstr"),
        tokens_expr(F.col("_t")).alias("toks"),
    ).withColumn("n", F.size("toks"))

    shingle_of = lambda start: F.concat_ws(" ", F.slice(F.col("toks"), start, shingle_k))  # noqa: E731
    # container side: (id, anchor) ONLY — never the document string. The
    # exploded relation is O(tokens) narrow rows per doc; carrying the full
    # text here would make shuffle volume O(doc_len²) per document (a
    # 10k-token page would emit 10k copies of a ~60 KB string).
    # r6 (guide §2.3): the blocking join key is xxhash64(anchor shingle) —
    # 8-byte longs shuffle/distinct instead of ~25-40-byte shingle strings.
    # Strictly result-preserving (not merely whp): a hash collision only
    # ADDS a candidate pair, and the exact `contains` verification below
    # removes every non-containment pair.
    containers = seqs.filter(F.col("n") >= shingle_k).select(
        F.col("doc").alias("outer"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - shingle_k),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(F.col("toks"), i + 1, shingle_k))
                ),
            )
        ).alias("anchor"),
    ).distinct()
    # contained side: first shingle only, ids again
    inners = seqs.filter(F.col("n") >= min_tokens).select(
        F.col("doc").alias("inner"), F.xxhash64(shingle_of(1)).alias("anchor")
    )
    cand_ids = (
        inners.join(containers, "anchor")
        .filter(F.col("inner") != F.col("outer"))
        .select("inner", "outer")
        .distinct()
    )
    # verification: re-join the two strings by id (one narrow row per
    # candidate pair) and run a single JVM contains()
    strs = seqs.select("doc", "tstr")
    return (
        cand_ids.join(strs.select(F.col("doc").alias("inner"), F.col("tstr").alias("inner_str")), "inner")
        .join(strs.select(F.col("doc").alias("outer"), F.col("tstr").alias("outer_str")), "outer")
        .filter(F.col("outer_str").contains(F.col("inner_str")))
        .select("inner", "outer")
    )


def suffix_window_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        window_tokens: int = 30, max_df: int | None = None) -> DataFrame:
    """Pairs sharing any exact window of ``window_tokens`` normalized tokens
    — the general duplicated-passage detector (the suffix-array use case).

    Blocking key = rolling polynomial hash of each w-token window (the
    ``wkeys`` field of minhash.py::text_features_udf: each token hashed
    once, then one numpy sliding-window × powers-of-B dot product — no
    per-window string building); pairs agreeing on any window key are
    emitted with the count of shared distinct windows (equal to the
    string-window count barring ~2⁻⁶⁴ hash collisions — the oracle joins
    on window strings). ``max_df``: see :func:`window_pairs`.
    """
    windows = text_features(docs, ("wkeys",), id_col, text_col,
                            window_tokens=window_tokens).select(
        "doc", F.explode("wkeys").alias("wkey"))
    # the self-join expands this plan per side (plus the df aggregate
    # under max_df): materialize the Arrow kernel once instead of
    # re-running it per consumer
    return window_pairs(windows.localCheckpoint(), max_df)[0]


def window_pairs(windows: DataFrame, max_df: int | None) -> tuple[DataFrame, int]:
    """The window self-join over a (doc, wkey) frame: (src < dst,
    shared_windows) pairs, and the number of hot keys the cap dropped.

    ``max_df=None`` is exhaustive (0 dropped). ``max_df=N`` is the
    hot-window cost control for boilerplate at scale: a window shared by k
    docs emits C(k,2) join rows, so a site-wide footer on 10⁶ pages is
    5·10¹¹ pairs — AQE splits partitions but cannot shrink that quadratic
    candidate set. With the cap, window keys whose document frequency
    exceeds N are dropped from the join entirely. Trade-off, stated
    plainly: a pair whose ONLY shared windows are ubiquitous boilerplate is
    missed, and surviving pairs' ``shared_windows`` counts exclude dropped
    windows. The dropped key count is logged and returned — never silent.
    ``windows`` is read once per join side (and once more under the cap):
    pass a materialized frame.
    """
    n_dropped = 0
    if max_df is not None:
        import logging

        # df per key aggregates map-side (count combine); the hot list is
        # tiny by definition (keys with df > cap). The dropped-key count is
        # observed on the aggregate before the filter, so the checkpoint
        # job computes it and no job counts the hot list.
        is_hot = F.col("df") > max_df
        dropped = Observation()
        hot = (
            windows.groupBy("wkey")
            .agg(F.count(F.lit(1)).alias("df"))
            .observe(dropped, F.sum(is_hot.cast("long")).alias("hot_keys"))
            .filter(is_hot)
            .select("wkey")
            .localCheckpoint()
        )
        n_dropped = dropped.get["hot_keys"] or 0
        logging.getLogger(__name__).info(
            "suffix_window_pairs max_df=%d: dropping %d hot window keys "
            "from candidate generation", max_df, n_dropped,
        )
        windows = windows.join(hot, "wkey", "left_anti")
    a = windows.alias("a")
    b = windows.alias("b")
    pairs = (
        a.join(b, "wkey")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("src"), F.col("b.doc").alias("dst"))
        .agg(F.count(F.lit(1)).alias("shared_windows"))
    )
    return pairs, n_dropped
