"""Per-record enriched view — the reference's final document state.

The reference's cluster rewrite (painless/updateDuplicatesGraph.painless,
applied at /root/reference/src/documentsManager.js:309-330) leaves every
affected document with:

  business.duplicates      adjacency list: {sourceUid, source, sessionName,
                           rules[]} per neighbor (duplicatesFixtures.js:4-11)
  business.duplicateRules  sorted union of rule names (documentsManager.js:292-298)
  business.sourceUidChain  '!'-joined sorted cluster member ids (287-289)
  business.sources         sorted distinct member sources (288)
  business.isDuplicate     duplicates non-empty (painless 216-218)
  business.isDeduplicable  record produced at least one applicable rule
                           (index.js:45-49)
  business.hasTransDuplicate  some member is reachable only transitively —
                           i.e. a cluster member that is NOT a direct
                           neighbor (painless 216-218: duplicates entries
                           with empty rules)

Two functions share the work, as the reference computes each affected
cluster's aggregate once and then rewrites its members
(documentsManager.js:287-289, painless 216-218):

  :func:`cluster_table`  one row per cluster — chain, members, sources,
                         size, truncated, is_duplicate. The pipeline stores
                         it as the ``clusters`` stage table.
  :func:`record_view`    the per-record assembly over a cluster table plus
                         the labels, edges and corpus. The pipeline's
                         enriched stage runs it over the STORED clusters
                         table, so the labels are aggregated once per run.

:func:`business_view` is the two composed, for callers that hold only the
labels. A9 existence predicates (helpers.js:120-149) fall out as column
expressions over the assembled arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.exact import chain_expr
from ..operators.skew import salted_collect_sets, salted_count


def cluster_table(labels: DataFrame, corpus: DataFrame, n_salts: int = 16,
                  max_members: int | None = None) -> DataFrame:
    """Cluster aggregates (A3/A4 + isDuplicate), one row per component.

    labels: (node, component); corpus: (url, source, ...). Returns
    ``cluster_id, chain, members, sources, size, truncated, is_duplicate``.

    Skew-safe: member lists and sources are salted two-stage collects
    (operators/skew.py), so a mega-cluster's members spread over
    ``n_salts`` partial reducers. ``max_members=None`` collects every
    cluster in that one aggregation (exact reference semantics). With an
    int, a salted count comes first and only clusters of at most
    ``max_members`` are collected: a boilerplate mega-cluster never
    materializes a member array or chain string, even transiently, and
    keeps its size, a placeholder chain, empty members/sources and
    ``truncated=true``.

    Precondition: ``corpus`` has one row per url (the pipeline's corpus
    and the url-keyed UpsertTable both guarantee it); it is not checked.
    Sizes count member rows joined to ``corpus``, so a duplicated url
    inflates its cluster's size and can flip is_duplicate and the chain.
    """
    members = labels.join(corpus.select(F.col("url").alias("node"), "source"), "node", "left")
    sizes = None
    if max_members is not None:
        # feeds both the semi-join and the truncated rows
        sizes = salted_count(members, ["component"], F.col("node"), n_salts).localCheckpoint()
        members = members.join(
            sizes.filter(F.col("count") <= max_members).select("component"),
            "component", "left_semi",
        )
    clusters = salted_collect_sets(
        members, ["component"], ["node", "source"], F.col("node"), n_salts
    ).select(
        F.col("component").alias("cluster_id"),
        chain_expr(F.col("set_node")).alias("chain"),
        F.col("set_node").alias("members"),
        F.col("set_source").alias("sources"),
        F.col("count").alias("size"),
        F.lit(False).alias("truncated"),
    )
    if sizes is not None:
        clusters = clusters.unionByName(sizes.filter(F.col("count") > max_members).select(
            F.col("component").alias("cluster_id"),
            F.concat(F.lit("!truncated:"), F.col("component"), F.lit(":"),
                     F.col("count"), F.lit("!")).alias("chain"),
            F.array().cast("array<string>").alias("members"),
            F.array().cast("array<string>").alias("sources"),
            F.col("count").alias("size"),
            F.lit(True).alias("truncated"),
        ))
    return clusters.withColumn("is_duplicate", F.col("size") >= 2)


def business_view(corpus: DataFrame, labels: DataFrame, edges: DataFrame,
                  signatures: DataFrame | None = None, n_salts: int = 16,
                  max_members_inline: int | None = None) -> DataFrame:
    """The per-record business view from the labels alone:
    :func:`record_view` over ``cluster_table(labels, corpus, n_salts,
    max_members_inline)``. Arguments as for :func:`record_view`."""
    clusters = cluster_table(labels, corpus, n_salts, max_members_inline)
    return record_view(clusters, corpus, labels, edges, signatures=signatures,
                       n_salts=n_salts, max_members_inline=max_members_inline)


def record_view(clusters: DataFrame, corpus: DataFrame, labels: DataFrame,
                edges: DataFrame, signatures: DataFrame | None = None,
                n_salts: int = 16, max_members_inline: int | None = None) -> DataFrame:
    """Assemble the per-record business view over a cluster table.

    clusters: :func:`cluster_table` output for the same labels and the
    same cap; corpus: (url, source, session, ...); labels: (node,
    component); edges: (src, dst, rules, session); signatures: (doc,
    minhash, ...) — NULL minhash ⇒ not deduplicable (optional; default
    everyone deduplicable).

    Each record reads its cluster's chain, sources, size and truncated
    flag from ``clusters``; its transitive duplicates are the cluster's
    members that are not direct neighbours. ``max_members_inline`` also
    caps the per-record adjacency: records with more direct neighbours
    than the cap keep the lowest ``max_members_inline`` neighbour ids in
    ``duplicates`` — the reference materializes the full adjacency per doc
    (painless 198-211), which is O(size²) rows per cluster and cannot be
    allowed for boilerplate mega-clusters at 100 TB. A truncated cluster
    stores no members, so its records list direct neighbours only.

    ``isDuplicate``/``hasTransDuplicate`` are derived from cluster size and
    FULL direct degree, so truncation never flips them: a truncated member
    with no surviving inline neighbors still reports isDuplicate=true
    (it IS in a duplicate cluster — reference painless 216-218).

    Default ``max_members_inline=None`` preserves exact reference semantics.
    """
    # direct neighbors with provenance, both directions (the reference's
    # adjacency list is symmetric: each member stores its own copy)
    fwd = edges.select(F.col("src").alias("url"), F.col("dst").alias("nbr"),
                       "rules", "session")
    rev = edges.select(F.col("dst").alias("url"), F.col("src").alias("nbr"),
                       "rules", "session")
    nbrs = fwd.unionByName(rev)

    member_of = labels.select(F.col("node").alias("url"), "component")

    if max_members_inline is None:
        # exact path: one aggregation, full adjacency per record
        direct = nbrs.groupBy("url").agg(
            F.collect_list(F.struct("nbr", "rules", "session")).alias("_direct"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("rules")))).alias("duplicateRules"),
            F.count(F.lit(1)).alias("_n_direct_full"),
        )
    else:
        # capped path: full degree + distinct rule names aggregate map-side
        # (count and small collect_set both partial-combine); the inline
        # struct list is built only from each hot record's lowest
        # max_members_inline neighbors, so no reducer row ever holds a
        # mega-cluster adjacency
        deg = nbrs.groupBy("url").agg(F.count(F.lit(1)).alias("_n_direct_full"))
        rules_agg = (
            nbrs.select("url", F.explode("rules").alias("_r"))
            .groupBy("url")
            .agg(F.array_sort(F.collect_set("_r")).alias("duplicateRules"))
        )
        hot_urls = deg.filter(F.col("_n_direct_full") > max_members_inline).select("url")
        # partial top-k instead of a per-url window sort: a star-hub in a
        # 10M-member cluster would otherwise funnel its ENTIRE edge list
        # into one window partition. Stage 1 takes the k lowest neighbor
        # ids per (url, salt) — each reducer sees ≤ degree/n_salts rows —
        # stage 2 merges n_salts arrays of ≤ k and re-slices, so no
        # reducer ever holds more than max(degree/n_salts, k·n_salts)
        # values for one url. Ordering (lowest nbr ids win) is identical
        # to the previous window form — deterministic either way.
        hot_rows = nbrs.join(hot_urls, "url", "left_semi")
        part_k = (
            hot_rows
            .withColumn("_salt", F.pmod(F.xxhash64(F.col("nbr").cast("string")),
                                        F.lit(n_salts)))
            .groupBy("url", "_salt")
            .agg(F.slice(F.array_sort(F.collect_list("nbr")), 1,
                         max_members_inline).alias("_part"))
        )
        top_k = (
            part_k.groupBy("url")
            .agg(F.slice(F.array_sort(F.flatten(F.collect_list("_part"))), 1,
                         max_members_inline).alias("_top"))
            .select("url", F.explode("_top").alias("nbr"))
        )
        capped_hot = hot_rows.join(top_k, ["url", "nbr"], "left_semi")
        inline_rows = nbrs.join(hot_urls, "url", "left_anti").unionByName(capped_hot)
        direct = (
            inline_rows.groupBy("url")
            .agg(F.collect_list(F.struct("nbr", "rules", "session")).alias("_direct"))
            .join(deg, "url", "left")
            .join(rules_agg, "url", "left")
        )

    base = (
        member_of.join(clusters.withColumnRenamed("cluster_id", "component"), "component")
        .join(direct, "url", "left")
        .join(corpus.select("url", F.col("session").alias("own_session")), "url", "left")
    )

    direct_nbr_urls = F.transform(F.coalesce(F.col("_direct"), F.array()), lambda d: d["nbr"])
    # duplicates = every other cluster member; direct neighbors keep their
    # rules, transitive members appear with empty rules (painless 198-211:
    # "new members added without rules" on non-queried docs)
    duplicates = F.filter(
        F.concat(
            F.coalesce(F.col("_direct"), F.array()),
            F.transform(
                F.array_except(F.col("members"), F.array_union(direct_nbr_urls, F.array(F.col("url")))),
                lambda m: F.struct(
                    m.alias("nbr"),
                    F.array().cast("array<string>").alias("rules"),
                    F.lit(None).cast("string").alias("session"),
                ),
            ),
        ),
        lambda d: d["nbr"] != F.col("url"),
    )

    out = base.select(
        "url",
        F.col("component").alias("cluster_id"),
        F.col("chain").alias("sourceUidChain"),
        F.coalesce(F.col("sources"), F.array().cast("array<string>")).alias("sources"),
        duplicates.alias("duplicates"),
        F.coalesce(F.col("duplicateRules"), F.array().cast("array<string>")).alias("duplicateRules"),
        F.col("own_session"),
        "truncated",
        # flags from cluster size + FULL degree, not the (possibly capped)
        # inline arrays — truncation never flips them (painless 216-218:
        # membership in a >=2 cluster IS isDuplicate; a member with more
        # cluster-mates than direct neighbors has a transitive duplicate)
        F.col("is_duplicate").alias("isDuplicate"),
        ((F.col("size") - 1) > F.coalesce(F.col("_n_direct_full"), F.lit(0)))
        .alias("hasTransDuplicate"),
    )
    if signatures is not None:
        dedupable = signatures.select(
            F.col("doc").alias("url"), F.col("minhash").isNotNull().alias("isDeduplicable")
        )
        out = out.join(dedupable, "url", "left").fillna({"isDeduplicable": True})
    else:
        out = out.withColumn("isDeduplicable", F.lit(True))
    return out


def with_session_predicates(view: DataFrame, current_session: str) -> DataFrame:
    """A9 session-existence predicates, all four variants
    (helpers/deduplicates/helpers.js:120-149).

    JS semantics quirk mirrored deliberately: ``duplicate.sessionName !==
    current`` is TRUE when sessionName is absent (undefined !== string), so
    transitive entries — which the cluster rewrite adds without a session
    (painless 198-211) — count as "from another session". NULL session
    therefore satisfies the "other session" arm here too.
    """
    other = lambda d: d["session"].isNull() | (d["session"] != F.lit(current_session))  # noqa: E731
    dups = F.col("duplicates")
    return (
        view.withColumn(
            "hasDuplicateFromOtherSession",
            F.exists(dups, lambda d: other(d)),
        )
        .withColumn(
            "hasOwnDuplicateFromOtherSession",
            F.exists(dups, lambda d: other(d) & (F.size(d["rules"]) > 0)),
        )
        .withColumn(
            "hasTransDuplicateFromOtherSession",
            F.exists(dups, lambda d: other(d) & (F.size(d["rules"]) == 0)),
        )
    )

