"""business_view parity with the reference's per-document output fields."""

from __future__ import annotations

from pyspark.sql import functions as F

from co_deduplicate_spark.config import DedupConfig
from co_deduplicate_spark.plans.business_view import business_view, with_session_predicates
from co_deduplicate_spark.plans.pipeline import run_pipeline
from co_deduplicate_spark.sources.pages import synth_pages


def test_business_view_fields(spark, tmp_path):
    pages = synth_pages(spark, 100, seed=42)
    out = run_pipeline(spark, pages, str(tmp_path / "wk"), DedupConfig())
    view = business_view(
        out["corpus"], out["cluster_labels"], out["candidate_edges"], out["signatures"]
    ).cache()
    rows = {r["url"]: r for r in view.collect()}
    assert len(rows) == 100

    # block 0 exact-copy group A: slots 0,1,2,16
    a = [u for u in rows if u.endswith(("/00", "/01", "/02", "/16")) and "/000000/" in u]
    assert len(a) == 4
    chain = "!" + "!".join(sorted(a)) + "!"
    for u in a:
        r = rows[u]
        assert r["sourceUidChain"] == chain, u
        assert r["isDuplicate"] is True
        assert r["isDeduplicable"] is True
        assert len(r["duplicates"]) == 3  # the 3 other members
        assert sorted(d["nbr"] for d in r["duplicates"]) == sorted(set(a) - {u})
        assert len(r["sources"]) >= 2  # group spans hosts
        assert any("minhash-lsh" in rule for rule in r["duplicateRules"])

    # the degenerate page: singleton, not deduplicable, chain of itself
    empty = [u for u in rows if u.endswith("/17")]
    for u in empty:
        r = rows[u]
        assert r["isDuplicate"] is False
        assert r["isDeduplicable"] is False
        assert r["sourceUidChain"] == f"!{u}!"
        assert r["duplicates"] == []

    # hard negatives are singletons with no duplicates
    for u in (u for u in rows if u.endswith(("/14", "/15"))):
        assert rows[u]["isDuplicate"] is False


def test_trans_duplicate_flag(spark, tmp_path):
    # chain group C (slots 6-9): ends are transitive-only neighbors
    pages = synth_pages(spark, 100, seed=42)
    out = run_pipeline(spark, pages, str(tmp_path / "wk2"), DedupConfig())
    view = business_view(out["corpus"], out["cluster_labels"], out["candidate_edges"])
    rows = {r["url"]: r for r in view.collect()}
    c_ends = [u for u in rows if u.endswith("/06")]
    assert c_ends
    for u in c_ends:
        r = rows[u]
        # slot 6 is adjacent to 7 (direct) but reaches 8/9 only transitively
        assert r["hasTransDuplicate"] is True
        trans = [d["nbr"] for d in r["duplicates"] if len(d["rules"]) == 0]
        assert any(t.endswith(("/08", "/09")) for t in trans)


def test_other_session_predicate(spark, tmp_path):
    pages = synth_pages(spark, 100, seed=42)
    out = run_pipeline(spark, pages, str(tmp_path / "wk3"), DedupConfig())
    view = business_view(out["corpus"], out["cluster_labels"], out["candidate_edges"]).cache()
    # every direct edge in this single-batch run carries the batch session,
    # so against another session each record with a direct duplicate is flagged
    other = with_session_predicates(view, "other-session")
    assert other.filter(
        F.exists("duplicates", lambda d: F.size(d["rules"]) > 0)
        & ~(F.col("hasDuplicateFromOtherSession") & F.col("hasOwnDuplicateFromOtherSession"))
    ).count() == 0
    assert other.filter(F.col("hasOwnDuplicateFromOtherSession")).count() > 0
    # ...and against the batch session itself no direct duplicate is foreign
    current = with_session_predicates(view, "batch-0")
    assert current.filter(F.col("hasOwnDuplicateFromOtherSession")).count() == 0
