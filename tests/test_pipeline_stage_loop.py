"""The run_pipeline stage-loop contract: stage order, lineage field names,
observed counters equal to a direct recount, and a resume that appends
nothing. Counters come from ``DataFrame.observe`` on each stage's write,
so these tests recount every one of them from the stored tables."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from co_deduplicate_spark.config import DedupConfig
from co_deduplicate_spark.operators.jaccard import verify_candidates
from co_deduplicate_spark.operators.lsh import band_table, candidate_pairs
from co_deduplicate_spark.operators.minhash import text_features
from co_deduplicate_spark.plans.pipeline import run_pipeline
from co_deduplicate_spark.sources.pages import synth_pages

N_DOCS = 300  # the small page fixture of test_pages_pipeline.py
# max_doc_chars below the fixture's longest pages, so some records are
# flagged and the observed flag counter is not trivially zero; likewise a
# window cap low enough that the window engine drops some hot keys
CFG = DedupConfig(max_doc_chars=1200, window_max_df=2)
# listed against pipeline.ENGINES order: the counters must follow that order
ENGINES = ("window", "minhash")
STAGES = ["corpus", "signatures", "candidate_edges", "cluster_labels", "clusters", "enriched"]
PARTITIONS = ["n_partitions", "rows_max", "skew_max_over_mean"]
# the bucket profile observed on the hot-bucket aggregate, on every run
LSH_PROFILE = ["lsh_band_rows", "lsh_n_buckets", "lsh_max_bucket", "lsh_hot_buckets",
               "lsh_clique_pairs_if_exact", "lsh_hot_clique_pairs_avoided"]
# the candidate_edges counters in pipeline.ENGINES order: minhash, then window
EDGE_COUNTERS = ["engines", *LSH_PROFILE, "lsh_star_threshold",
                 "window_max_df", "window_hot_keys_dropped"]
LINEAGE_FIELDS = {
    "corpus": ["flagged_records", *PARTITIONS],
    "signatures": ["non_deduplicable", *PARTITIONS],
    "candidate_edges": [*EDGE_COUNTERS, *PARTITIONS],
    "cluster_labels": PARTITIONS,
    "clusters": ["duplicate_clusters", "capped_clusters", "max_cluster_size",
                 "chain_max_members", *PARTITIONS],
    "enriched": PARTITIONS,
}


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, N_DOCS, seed=42).cache()


def _lineage(wk) -> list[dict]:
    return [json.loads(line) for line in (wk / "lineage.jsonl").read_text().splitlines()]


def _manifest(wk, stage) -> dict:
    return json.loads((wk / stage / "_STAGE_MANIFEST.json").read_text())


def test_stage_loop_lineage_and_observed_counters(spark, pages, tmp_path):
    wk = tmp_path / "wk"
    out = run_pipeline(spark, pages, str(wk), CFG, engines=ENGINES, enriched=True)
    recs = _lineage(wk)
    assert [r["stage"] for r in recs] == STAGES
    for r in recs:
        common = ["stage", "config_hash", "written_at", "rows_out", "wall_s"]
        assert sorted(r) == sorted(common + LINEAGE_FIELDS[r["stage"]]), r["stage"]
    by = {r["stage"]: r for r in recs}
    # the engines run concurrently, but their counters merge in ENGINES order
    assert [k for k in by["candidate_edges"] if k in EDGE_COUNTERS] == EDGE_COUNTERS
    assert by["candidate_edges"]["engines"] == list(ENGINES)

    corpus, sigs, clusters = out["corpus"], out["signatures"], out["clusters"]
    n_flagged = corpus.filter(F.size("quality_flags") > 0).count()
    assert 0 < n_flagged < N_DOCS
    assert by["corpus"]["flagged_records"] == n_flagged
    n_null = sigs.filter(F.col("minhash").isNull()).count()
    assert n_null > 0  # the fixture plants a non-deduplicable page
    assert by["signatures"]["non_deduplicable"] == n_null
    assert _manifest(wk, "signatures")["counters"] == {"non_deduplicable": n_null}
    assert by["candidate_edges"]["lsh_band_rows"] == (sigs.count() - n_null) * CFG.lsh_bands
    wkeys = text_features(corpus, ("wkeys",), "url", window_tokens=CFG.window_tokens).select(
        F.explode("wkeys").alias("wkey"))
    n_hot = wkeys.groupBy("wkey").count().filter(F.col("count") > CFG.window_max_df).count()
    assert n_hot > 0
    assert by["candidate_edges"]["window_hot_keys_dropped"] == n_hot
    assert by["clusters"]["duplicate_clusters"] == clusters.filter("is_duplicate").count()
    assert by["clusters"]["capped_clusters"] == clusters.filter("truncated").count()
    assert by["clusters"]["max_cluster_size"] == clusters.agg(F.max("size")).first()[0]
    assert by["enriched"]["rows_out"] == N_DOCS
    assert _manifest(wk, "enriched")["counters"] == {}
    for stage in STAGES:
        assert by[stage]["rows_out"] == out[stage].count() == _manifest(wk, stage)["rows"]

    # resume: every stage is complete, so the loop appends no lineage record
    run_pipeline(spark, pages, str(wk), CFG, engines=ENGINES, enriched=True)
    assert len(_lineage(wk)) == len(STAGES)


def test_rerun_over_fewer_pages_keeps_no_stale_enriched_rows(spark, pages, tmp_path):
    """A fresh run over half the pages on the same workdir stores exactly
    the new corpus's records: the enriched table is rewritten, not merged
    into, so no url that left the corpus survives."""
    wk = tmp_path / "wk_drift"
    run_pipeline(spark, pages, str(wk), CFG, engines=ENGINES, enriched=True)
    half = pages.orderBy("url").limit(N_DOCS // 2)
    out = run_pipeline(spark, half, str(wk), CFG, resume=False, engines=ENGINES,
                       enriched=True)
    corpus_urls = {r["url"] for r in out["corpus"].select("url").collect()}
    assert len(corpus_urls) == N_DOCS // 2
    assert {r["url"] for r in out["enriched"].select("url").collect()} == corpus_urls
    enriched_recs = [r for r in _lineage(wk) if r["stage"] == "enriched"]
    assert enriched_recs[-1]["rows_out"] == out["corpus"].count()


def test_bucket_profile_lineage_fields(spark, pages, tmp_path):
    """The one blocking mode logs the full bucket profile; with a cap low
    enough that some buckets are hot, recount every lsh_* field from the
    stored signatures."""
    cfg = DedupConfig(band_bucket_cap=2)
    wk = tmp_path / "wk_profile"
    out = run_pipeline(spark, pages, str(wk), cfg)
    rec = {r["stage"]: r for r in _lineage(wk)}["candidate_edges"]
    bands = band_table(out["signatures"], cfg)
    sizes = [r["n"] for r in bands.groupBy("band_id", "band_hash")
             .agg(F.count("*").alias("n")).collect()]
    hot = [n for n in sizes if n > cfg.band_bucket_cap]
    assert hot
    assert sorted(k for k in rec if k.startswith("lsh_")) == sorted(
        [*LSH_PROFILE, "lsh_star_threshold"])
    assert rec["lsh_star_threshold"] == cfg.band_bucket_cap
    assert rec["lsh_band_rows"] == sum(sizes)
    assert rec["lsh_n_buckets"] == len(sizes)
    assert rec["lsh_max_bucket"] == max(sizes)
    assert rec["lsh_hot_buckets"] == len(hot)
    assert rec["lsh_clique_pairs_if_exact"] == sum(n * (n - 1) // 2 for n in sizes)
    assert rec["lsh_hot_clique_pairs_avoided"] == sum(n * (n - 1) // 2 for n in hot)
    # star reduction engaged, so the pre-verification count is logged too
    assert rec["minhash_candidates_pre_verify"] == candidate_pairs(
        bands, cfg, star_reduce_threshold=cfg.band_bucket_cap).count()


def test_cap_above_largest_bucket_is_exact(spark, pages, tmp_path):
    """Exact cliques for every bucket stay reachable through the config: a
    band_bucket_cap at least as large as the largest bucket (no bucket
    holds more docs than the corpus) leaves none hot, and the MinHash
    edges equal the exact candidate set, verified."""
    cfg = DedupConfig(band_bucket_cap=N_DOCS)
    wk = tmp_path / "wk_exact"
    out = run_pipeline(spark, pages, str(wk), cfg)
    rec = {r["stage"]: r for r in _lineage(wk)}["candidate_edges"]
    assert rec["lsh_hot_buckets"] == 0
    assert 1 < rec["lsh_max_bucket"] <= cfg.band_bucket_cap
    assert "minhash_candidates_pre_verify" not in rec
    edges = {(r.src, r.dst) for r in out["candidate_edges"].collect()}
    exact = candidate_pairs(band_table(out["signatures"], cfg), cfg,
                            star_reduce_threshold=None)
    verified = {(r.src, r.dst) for r in verify_candidates(
        exact, out["corpus"], id_col="url", threshold=cfg.jaccard_threshold,
        shingle_k=cfg.shingle_k).collect()}
    assert edges and edges == verified


def test_duplicated_url_raises_before_clusters(spark, pages, tmp_path):
    """cluster_labels has one row per distinct corpus url, so a corpus with
    a duplicated url fails the footer-count check before the clusters
    stage is built — instead of counting that url twice in its cluster's
    size — on a fresh run and on one that resumes the earlier stages."""
    dup = pages.unionByName(pages.orderBy("url").limit(1))
    wk = tmp_path / "wk_dup"
    msg = f"corpus has {N_DOCS + 1} rows, cluster_labels {N_DOCS} distinct urls"
    with pytest.raises(ValueError, match=msg):
        run_pipeline(spark, dup, str(wk), CFG)
    assert not (wk / "clusters" / "_STAGE_MANIFEST.json").exists()
    with pytest.raises(ValueError, match=msg):
        run_pipeline(spark, dup, str(wk), CFG)
    assert [r["stage"] for r in _lineage(wk)] == STAGES[:4]


# Jobs one run_pipeline over the fixture submits with the four batch_dedup
# engines and the enriched stage: 57 when this budget was set. A change that
# adds jobs must raise it and say why; one that removes jobs should lower it
# to the new count that this test prints on failure.
JOB_BUDGET = 57


def test_job_group_inherited_and_job_budget(spark, pages, tmp_path):
    """Every job of a run carries the caller's job group, the concurrent
    candidate engines' included: the group's job ids form one contiguous
    range (a job submitted outside the group would leave a gap, as nothing
    else runs meanwhile). Their count is held to :data:`JOB_BUDGET`."""
    sc = spark.sparkContext
    group = "test_job_budget"
    sc.setJobGroup(group, "run_pipeline job budget")
    try:
        run_pipeline(spark, pages, str(tmp_path / "wk_jobs"), CFG,
                     engines=("minhash", "simhash", "rules", "window"), enriched=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    assert ids == list(range(ids[0], ids[-1] + 1))
    assert len(ids) <= JOB_BUDGET, f"{len(ids)} jobs"
