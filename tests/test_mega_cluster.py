"""Mega-cluster skew path: a planted boilerplate cluster far above
chain_max_members must flow through star reduction + salted aggregates +
the chain cap without ever materializing its member list, while normal
clusters stay byte-exact. This is the 100 TB failure mode (one hot
reducer + unbounded chain string) exercised end-to-end.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from co_deduplicate_spark.config import DedupConfig
from co_deduplicate_spark.plans.business_view import business_view
from co_deduplicate_spark.plans.pipeline import run_pipeline
from co_deduplicate_spark.sources.pages import golden_minhash_clusters, render_html, synth_pages

N_NORMAL = 200
N_MEGA = 5000
MEGA_TEXT = " ".join(f"boilerplate{w % 37} shared content" for w in range(40))
CFG = DedupConfig(chain_max_members=100, band_bucket_cap=50)


@pytest.fixture(scope="module")
def pages(spark):
    mega_html = render_html(MEGA_TEXT, "mega")
    mega = spark.range(N_MEGA).select(
        F.concat(F.lit("https://mega.example.org/p/"), F.col("id")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(mega_html).alias("html"),
        F.lit(MEGA_TEXT).alias("text"),
        F.lit("en").alias("lang"),
    )
    return synth_pages(spark, N_NORMAL, seed=42).unionByName(mega).cache()


def test_mega_cluster_capped_not_silent(spark, pages, tmp_path):
    # one blocking mode: the plan must be the 100×-safe one
    wk = str(tmp_path / "wk")
    out = run_pipeline(spark, pages, wk, CFG)
    clusters = out["clusters"]

    mega = clusters.filter(F.col("size") >= N_MEGA).collect()
    assert len(mega) == 1, "the planted mega-cluster must survive as ONE component"
    row = mega[0]
    assert row["truncated"] is True
    assert row["members"] == []
    assert row["chain"].startswith("!truncated:")
    assert str(row["size"]) in row["chain"]

    # normal planted clusters unaffected by the cap or star reduction
    got_members = {
        frozenset(r["members"])
        for r in clusters.filter("is_duplicate AND NOT truncated").collect()
    }
    for gold in golden_minhash_clusters(N_NORMAL):
        assert frozenset(gold) in got_members, f"lost cluster {sorted(gold)}"

    # no-silent-caps: lineage records the capped cluster AND the bucket
    # profile that triggered star reduction (routed every run)
    lineage = [json.loads(line) for line in open(f"{wk}/lineage.jsonl")]
    clusters_rec = [r for r in lineage if r["stage"] == "clusters"][-1]
    assert clusters_rec["capped_clusters"] == 1
    assert clusters_rec["max_cluster_size"] >= N_MEGA
    edges_rec = [r for r in lineage if r["stage"] == "candidate_edges"][-1]
    assert edges_rec["lsh_max_bucket"] >= N_MEGA
    assert edges_rec["lsh_hot_buckets"] >= 1
    assert edges_rec["lsh_star_threshold"] == CFG.band_bucket_cap
    # the whole point: the star-reduced candidate set is O(b), not O(b²)
    assert edges_rec["minhash_candidates_pre_verify"] < 20 * (N_MEGA + N_NORMAL)
    assert edges_rec["lsh_hot_clique_pairs_avoided"] > N_MEGA * (N_MEGA - 1) // 2


def test_business_view_truncates_mega(spark, pages, tmp_path):
    out = run_pipeline(spark, pages, str(tmp_path / "wk2"), CFG)
    view = business_view(
        out["corpus"], out["cluster_labels"], out["candidate_edges"],
        max_members_inline=100,
    )
    mega_rows = view.filter(F.col("url").startswith("https://mega.example.org/")).limit(50).collect()
    assert mega_rows
    for r in mega_rows:
        assert r["truncated"] is True
        assert r["sourceUidChain"].startswith("!truncated:")
        # inline adjacency capped at max_members_inline, not cluster size
        assert len(r["duplicates"]) <= 100
        # truncation must never flip the duplicate flags: every mega member
        # is in a >=2 cluster, and every leaf (all but the star hub, which
        # IS directly connected to everyone) has transitive duplicates
        assert r["isDuplicate"] is True
        if r["url"] != "https://mega.example.org/p/0":  # the star hub (min url)
            assert r["hasTransDuplicate"] is True
    # normal records keep exact reference semantics
    normal = view.filter(~F.col("url").startswith("https://mega.example.org/"))
    assert normal.filter(F.col("truncated")).count() == 0

    # hot-record adjacency is a salted partial top-k (round 4): the star
    # hub's inline neighbors must be EXACTLY its 100 lowest neighbor urls —
    # same result as the old single-partition window sort, but no reducer
    # ever held the hub's full 5k-edge list
    hub = view.filter(F.col("url") == "https://mega.example.org/p/0").first()
    assert hub is not None and hub["truncated"] is True
    expect = sorted(f"https://mega.example.org/p/{i}" for i in range(1, N_MEGA))[:100]
    assert sorted(d["nbr"] for d in hub["duplicates"]) == expect


def test_enriched_stage_matches_business_view(spark, pages, tmp_path):
    # the enriched stage reads chain, members, sources and size from the
    # stored clusters table; it must equal the standalone view, which
    # aggregates the labels itself, on truncated and normal clusters alike
    out = run_pipeline(spark, pages, str(tmp_path / "wk3"), CFG, enriched=True)
    view = business_view(
        out["corpus"], out["cluster_labels"], out["candidate_edges"],
        signatures=out["signatures"], max_members_inline=CFG.chain_max_members,
    )

    def rows(df):
        # collect_list order inside `duplicates` is not part of the contract
        return sorted(df.select(*view.columns).withColumn(
            "duplicates", F.array_sort("duplicates")).collect())

    got = rows(out["enriched"])
    assert got == rows(view)
    assert len(got) == N_NORMAL + N_MEGA
    assert {r["truncated"] for r in got} == {True, False}
