"""LSH band hashing + candidate self-join (blocking stage).

The Spark-native replacement for the reference's inverted-index candidate
retrieval: where the reference emits one ES bool-should clause per rule
and lets Lucene's term index do sub-linear blocking
(/root/reference/src/deduplicateQueryBuilder.js:22-29, 75-107;
src/getBaseRequest.js:1-8 ``minimum_should_match:1``), we materialize
blocking keys — (band_id, band_hash) — as columns and shuffle-hash-join on
them. "Any band matches" ≡ the reference's rule disjunction.

Everything here is JVM-side: band hashes come from ``xxhash64`` over
signature slices (whole-stage codegen, no Python).

Skew (the real 100 TB problem — boilerplate pages collapse into mega-bands):
  * AQE skew-join splitting is on (session.py).
  * ``star_reduce_threshold``: buckets larger than the threshold emit a
    star (bucket-min → member) instead of the full clique, cutting a
    b-size bucket from O(b²) to O(b) candidate edges. The star preserves
    connectivity exactly AT THE CANDIDATE LEVEL; note the honest caveat:
    when star edges are then Jaccard-VERIFIED (pipeline stage 3), a member
    whose similarity to the bucket-min falls below threshold loses its
    edge, and true duplicate pairs among such dropped members can
    disconnect — recall through verification is NOT guaranteed for
    mega-buckets. This is the intended trade (mega-buckets are boilerplate
    collisions; their members are usually near-identical, as in the
    mega-cluster test where recall stays 1.0), and it is observable:
    the bucket profile (:func:`hot_buckets`) and pre/post-verification
    edge counts are logged to lineage, never silently dropped (SURVEY.md
    §7 step 5). Exact pair semantics for every bucket takes a threshold at
    least as large as the largest bucket: no bucket is hot, and the plan
    is the exact one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..config import DedupConfig


def nested_band_table(signatures: DataFrame, cfg: DedupConfig,
                      doc_col: str = "doc", sig_col: str = "minhash") -> DataFrame:
    """(doc, band_hashes array<bigint>) — ONE row per doc, band_id implied
    by array position. This is the KEYED form of the band table, suitable
    for a per-doc MERGE into an UpsertTable / Iceberg table: a session's
    band-state delta is O(new docs) rows, while the exploded long form
    (32 rows/doc) has no stable single-column key to merge on. band_hash =
    xxhash64 of the band's signature slice, all whole-stage codegen; NULL
    signatures (non-deduplicable docs) are dropped."""
    r = cfg.lsh_rows_per_band
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.lsh_bands - 1)),
        lambda b: F.xxhash64(F.slice(F.col(sig_col), b * r + 1, r)),
    )
    return (
        signatures.filter(F.col(sig_col).isNotNull())
        .select(F.col(doc_col).alias("doc"), bands.alias("band_hashes"))
    )


def explode_nested_bands(nested: DataFrame) -> DataFrame:
    """Nested per-doc band rows → the long (doc, band_id, band_hash) form
    the blocking join runs on. A map-only posexplode: reading a stored
    nested band table and exploding it shuffles nothing."""
    return nested.select(
        "doc", F.posexplode("band_hashes").alias("band_id", "band_hash")
    )


def band_table(signatures: DataFrame, cfg: DedupConfig, doc_col: str = "doc",
               sig_col: str = "minhash") -> DataFrame:
    """Explode each signature into (doc, band_id, band_hash).

    band_hash = xxhash64 of the band's signature slice — computed inside a
    single ``transform`` over a compile-time band sequence, then
    posexploded; NULL signatures (non-deduplicable docs) are dropped here.
    """
    return explode_nested_bands(nested_band_table(signatures, cfg, doc_col, sig_col))


# above this many hot buckets the broadcast fast path is abandoned for a
# window plan (a corpus where millions of buckets exceed the cap is
# pathological; the broadcast table would stop being "tiny")
_HOT_BROADCAST_CAP = 2_000_000


def hot_buckets(bands: DataFrame, threshold: int) -> tuple[DataFrame, Observation]:
    """(band_id, band_hash, bucket_n, bucket_min) for buckets above the
    threshold — ONE map-side-combined aggregation over the band table,
    checkpointed (tiny by definition) — and the profile of EVERY bucket,
    observed on that aggregate before the filter, so the checkpoint job
    computes it and reading it runs no job: ``band_rows`` (Σn),
    ``n_buckets``, ``max_bucket``, ``hot_buckets`` (n > threshold),
    ``clique_pairs_if_exact`` (Σ n(n-1)/2) and ``hot_clique_pairs_avoided``
    (the same sum over the hot buckets). Shared by candidate_pairs and the
    pipeline's lineage counters so the band table is aggregated once."""
    profile = Observation()
    is_hot = F.col("bucket_n") > threshold
    pairs = F.expr("bucket_n * (bucket_n - 1) div 2")
    hot = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_n"), F.min("doc").alias("bucket_min"))
        .observe(
            profile,
            F.sum("bucket_n").alias("band_rows"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("bucket_n").alias("max_bucket"),
            F.sum(is_hot.cast("long")).alias("hot_buckets"),
            F.sum(pairs).alias("clique_pairs_if_exact"),
            F.sum(F.when(is_hot, pairs)).alias("hot_clique_pairs_avoided"),
        )
        .filter(is_hot)
        .localCheckpoint()
    )
    return hot, profile


def candidate_pairs(bands: DataFrame, cfg: DedupConfig,
                    star_reduce_threshold: int | None = None,
                    hot: tuple[DataFrame, Observation] | None = None) -> DataFrame:
    """Self-join band table on (band_id, band_hash) → distinct (src < dst).

    ``star_reduce_threshold=None`` emits every intra-bucket pair (exact
    candidate set). With a threshold t, buckets of size > t emit only
    (bucket_min, member) star edges — see module docstring.

    Star-path physical strategy (this is the DEFAULT pipeline path, so its
    cost on clean corpora must be ~the exact path's): hot buckets are found
    with one map-side-combined aggregation (count + min per bucket, tiny
    partials), and since buckets above the cap are by definition few, the
    hot list broadcasts — the cold side is then a broadcast ANTI join (no
    extra shuffle of the 32×n-row band table) feeding the same codegen'd
    self-join as the exact path. The earlier window-function formulation
    (count/min OVER bucket) sorted the entire band table and measured +64 s
    on 600k pages × local[16] (144 s vs 80 s pipeline wall); the aggregate
    probe costs ~2 s. Degenerate fallback: if more than 2M buckets are hot
    the broadcast assumption is void and the window plan is used.

    ``hot``: the :func:`hot_buckets` result for ``bands`` at this
    threshold, when the caller also reads its profile; computed here
    otherwise. The hot-bucket count comes from that profile, which the
    checkpoint job filled, so no job counts the hot table.

    The self-join expands ``bands`` once per side: pass a stored or
    checkpointed band table. Bands still computed by the Arrow signature
    kernel (no stage table in between) would run that kernel per side.
    """
    def exact_cliques(side: DataFrame) -> DataFrame:
        # Codegen'd shuffle-hash self-join on the band key. (A groupBy +
        # collect_set + in-bucket pair expansion was measured 2× slower
        # here: millions of mostly-singleton buckets make the object-heavy
        # aggregate the bottleneck, while the hash join streams through
        # codegen.)
        a = side.alias("a")
        b = side.alias("b")
        return (
            a.join(b, ["band_id", "band_hash"])
            .filter(F.col("a.doc") < F.col("b.doc"))
            .select(F.col("a.doc").alias("src"), F.col("b.doc").alias("dst"))
        )

    if star_reduce_threshold is None:
        return exact_cliques(bands).distinct()

    hot, profile = hot or hot_buckets(bands, star_reduce_threshold)
    n_hot = profile.get["hot_buckets"] or 0
    if n_hot == 0:
        # clean corpus: the default plan IS the exact plan (plus one cheap
        # aggregate probe over the band table)
        return exact_cliques(bands).distinct()
    if n_hot > _HOT_BROADCAST_CAP:  # pathological; keep correctness, drop speed
        w = Window.partitionBy("band_id", "band_hash")
        sized = bands.withColumn("bucket_n", F.count(F.lit(1)).over(w)).withColumn(
            "bucket_min", F.min("doc").over(w)
        )
        small = sized.filter(F.col("bucket_n") <= star_reduce_threshold).drop(
            "bucket_n", "bucket_min"
        )
        clique = exact_cliques(small)
        star = (
            sized.filter((F.col("bucket_n") > star_reduce_threshold)
                         & (F.col("doc") != F.col("bucket_min")))
            .select(F.col("bucket_min").alias("src"), F.col("doc").alias("dst"))
        )
        return clique.unionByName(star).distinct()

    cold = bands.join(
        F.broadcast(hot.select("band_id", "band_hash")), ["band_id", "band_hash"],
        "left_anti",
    )
    star = (
        bands.join(F.broadcast(hot), ["band_id", "band_hash"])
        .filter(F.col("doc") != F.col("bucket_min"))
        .select(F.col("bucket_min").alias("src"), F.col("doc").alias("dst"))
    )
    return exact_cliques(cold).unionByName(star).distinct()

