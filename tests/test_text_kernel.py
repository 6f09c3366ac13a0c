"""The one Arrow text kernel (operators/minhash.py::text_features_udf)
against the per-document references, and the pipeline's use of it: the
engines read the persisted kernel frame and get the same edges as the
standalone operators, and the frame is released when the run returns."""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pytest
from pyspark.sql import functions as F

from co_deduplicate_spark.config import DedupConfig
from co_deduplicate_spark.functions.normalize import tokens_py
from co_deduplicate_spark.operators.minhash import (
    FEATURES,
    minhash_py,
    perm_params,
    shingle_hash,
    shingle_hashes,
    text_features,
)
from co_deduplicate_spark.operators.simhash import simhash_py
from perfbench.corpus import open_vocab_texts

CFG = DedupConfig()


def _texts() -> list[str | None]:
    short = " ".join(f"w{i}" for i in range(CFG.window_tokens - 1))
    return open_vocab_texts(2000, 1, 1)[:600] + [
        None,
        "",
        "two words",  # shorter than shingle_k
        short,  # shorter than window_tokens
        "Ça été déjà vu : Crème brûlée à l'hôtel, naïve façade — résumé.",
    ]


def _window_keys(text: str | None, w: int) -> set[int]:
    """Distinct polynomial rolling hashes (base = FNV-64 prime, mod 2^64)
    of every w-token window, one window at a time."""
    toks = tokens_py(text)
    keys = set()
    for i in range(len(toks) - w + 1):
        h = 0
        for t in toks[i : i + w]:
            h = (h * 1099511628211 + shingle_hash(t)) % (1 << 64)
        keys.add(h - (1 << 64) if h >= 1 << 63 else h)
    return keys


@pytest.mark.parametrize("k", [CFG.shingle_k, 1])
def test_kernel_matches_references(spark, k):
    cfg = replace(CFG, shingle_k=k)
    texts = _texts()
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = {r["doc"]: r for r in text_features(
        df, FEATURES, shingle_k=k, window_tokens=cfg.window_tokens,
        simhash_bits=cfg.simhash_bits, perms=perm_params(cfg)).collect()}
    assert len(rows) == len(texts)
    for i, t in enumerate(texts):
        r = rows[i]
        assert r["minhash"] == minhash_py(t, cfg), i
        hs = shingle_hashes(tokens_py(t), k)
        want = [] if hs is None else hs.view(np.int64).tolist()
        assert r["shingles"] == want, i
        assert r["n_shingles"] == len(want), i
        assert r["simhash"] == simhash_py(t, cfg.simhash_bits, k), i
        assert set(r["wkeys"]) == _window_keys(t, cfg.window_tokens), i
        assert len(r["wkeys"]) == len(set(r["wkeys"])), i
    # the edge cases reach every branch
    assert rows[600]["minhash"] is None and rows[601]["simhash"] is None
    assert rows[602]["n_shingles"] == 1 or k == 1
    assert rows[603]["wkeys"] == [] and rows[0]["wkeys"]


def test_kernel_emits_only_requested_fields(spark):
    from co_deduplicate_spark.plans.pipeline import corpus_features

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = text_features(df, ("wkeys", "simhash"), shingle_k=3, window_tokens=2, simhash_bits=60)
    assert got.columns == ["doc", "simhash", "wkeys"]
    # the pipeline asks for the signature fields plus each selected
    # engine's own field, nothing for engines that do not read the frame
    corpus = df.select(F.col("doc_id").cast("string").alias("url"), "text")
    sig = ["doc", "minhash", "n_shingles"]
    assert corpus_features(corpus, CFG, ("minhash",)).columns == sig + ["shingles"]
    assert corpus_features(corpus, CFG, ("rules", "substring", "ann")).columns == sig
    assert corpus_features(corpus, CFG, ("window", "simhash")).columns == sig + [
        "simhash", "wkeys"]


def test_pipeline_engines_read_the_kernel_frame(spark, tmp_path):
    """On the three-engine page fixture, the SimHash, window and MinHash
    edges of candidate_edges equal the standalone operators' output, and
    the persisted kernel frame is gone once run_pipeline returns."""
    from co_deduplicate_spark.operators.jaccard import verify_candidates
    from co_deduplicate_spark.operators.lsh import band_table, candidate_pairs
    from co_deduplicate_spark.operators.simhash import hamming_pairs, with_simhash
    from co_deduplicate_spark.operators.substring import suffix_window_pairs
    from co_deduplicate_spark.plans.pipeline import run_pipeline
    from co_deduplicate_spark.sources.pages import synth_pages

    spark.catalog.clearCache()  # frames other tests cached
    pages = synth_pages(spark, 200, seed=42)
    out = run_pipeline(spark, pages, str(tmp_path / "wk"), CFG,
                       engines=("minhash", "simhash", "rules", "window"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    corpus, sigs = out["corpus"], out["signatures"]
    edges = out["candidate_edges"].select("src", "dst", F.explode("rules").alias("rule"))

    def engine(prefix):
        return {(r.src, r.dst) for r in edges.filter(F.col("rule").startswith(prefix)).collect()}

    simhash = {(r.src, r.dst) for r in hamming_pairs(
        with_simhash(corpus, CFG, id_col="url"), CFG).collect()}
    window = {(r.src, r.dst) for r in suffix_window_pairs(
        corpus, id_col="url", window_tokens=CFG.window_tokens,
        max_df=CFG.window_max_df).collect()}
    cands = candidate_pairs(band_table(sigs, CFG), CFG,
                            star_reduce_threshold=CFG.band_bucket_cap)
    minhash = {(r.src, r.dst) for r in verify_candidates(
        cands, corpus, id_col="url", threshold=CFG.jaccard_threshold,
        shingle_k=CFG.shingle_k).collect()}
    assert simhash and window and minhash
    assert engine("simhash:") == simhash
    assert engine("window:") == window
    assert engine("minhash-lsh:") == minhash
