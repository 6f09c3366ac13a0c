"""Per-layer metrics of a traced run.

Every traced run prints every metric named here; a layer the workload does
not reach reads 0. Times and counts are per pipeline run or per query
pass, so they do not depend on how many operations fit in the run.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

from .trace import subtree

STAGES = ("corpus", "signatures", "candidate_edges", "cluster_labels", "clusters", "enriched")
STAGE_FIELDS = (("s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"),
                ("python_ms", "ms"), ("cpu_ms", "ms"))
OPERATORS = ("minhash", "lsh_candidates", "jaccard_verify", "simhash_pairs",
             "window_pairs", "rule_pairs", "cc", "business_view")


def metric_units(query_names: list[str]) -> dict[str, str]:
    """name → unit, in the order BENCHMARK.json lists them."""
    m: dict[str, str] = {}
    for st in STAGES:
        for f, unit in STAGE_FIELDS:
            m[f"stage.{st}.{f}"] = unit
    m["pipeline.self_s"] = "s"
    for op in OPERATORS:
        m[f"op.{op}.s"] = "s"
    m["lsh.verify_yield"] = "ratio"
    m["kernel.minhash.docs_per_s"] = "1/s"
    m["kernel.simhash.docs_per_s"] = "1/s"
    for q in query_names:
        m[f"query.{q}.s"] = "s"
    for f, unit in (("jobs", "count"), ("tasks", "count"), ("python_ms", "ms"),
                    ("shuffle_bytes", "bytes"), ("read_bytes", "bytes")):
        m[f"queries.{f}"] = unit
    m["trace.op_mean_s"] = "s"
    m["peak_rss_mb"] = "MB"
    return m


def _sum(rows, key):
    return sum(r[key] for r in rows)


def _tree_sum(rows, roots, key):
    return sum(_sum(subtree(rows, r["id"]), key) for r in roots)


def compute(rows: list[dict], op_spans: set[str], per_round: int,
            query_names: list[str], extra: dict) -> dict[str, float]:
    """Per-layer values from the span table of a traced run."""
    values = {name: 0.0 for name in metric_units(query_names)}
    ops = [r for r in rows if r["parent"] is None and r["name"] in op_spans]
    in_ops: list[dict] = []
    for r in ops:
        in_ops.extend(subtree(rows, r["id"]))
    n = max(1, len(ops) // per_round)

    # pipeline stages (segments of run_pipeline, see trace.instrument)
    staged = 0.0
    for st in STAGES:
        spans = [r for r in in_ops if r["name"] == f"stage.{st}"]
        staged += _sum(spans, "s")
        values[f"stage.{st}.s"] = _sum(spans, "s") / n
        for f in ("jobs", "shuffle_bytes", "python_ms", "cpu_ms"):
            values[f"stage.{st}.{f}"] = _tree_sum(in_ops, spans, f) / n
    pipelines = [r for r in ops if r["name"] == "pipeline"]
    values["pipeline.self_s"] = (_sum(pipelines, "s") - staged) / n

    queries = [r for r in ops if r["name"].startswith("query.")]
    for r in queries:
        values[f"{r['name']}.s"] += r["s"] / n
    for f in ("jobs", "tasks", "python_ms", "shuffle_bytes", "read_bytes"):
        values[f"queries.{f}"] = _tree_sum(in_ops, queries, f) / n

    values.update(extra)
    return values


def operator_replay(spark, wk: Path, tracer) -> dict[str, float]:
    """Each public operator over the persisted stage tables, to the noop sink."""
    from co_deduplicate_spark.config import DedupConfig
    from co_deduplicate_spark.operators.connected_components import (
        attach_singletons,
        connected_components,
    )
    from co_deduplicate_spark.operators.jaccard import verify_candidates
    from co_deduplicate_spark.operators.lsh import band_table, candidate_pairs
    from co_deduplicate_spark.operators.minhash import with_minhash
    from co_deduplicate_spark.operators.simhash import hamming_pairs, with_simhash
    from co_deduplicate_spark.operators.substring import suffix_window_pairs
    from co_deduplicate_spark.plans.business_view import business_view
    from co_deduplicate_spark.plans.rules import rule_pairs
    from co_deduplicate_spark.plans.scenarios import page_rules_spec

    cfg = DedupConfig()
    read = spark.read.parquet
    corpus, sigs = read(str(wk / "corpus")), read(str(wk / "signatures"))
    edges, labels = read(str(wk / "candidate_edges")), read(str(wk / "cluster_labels"))
    cands_path = str(wk / "_replay_candidates")
    candidate_pairs(band_table(sigs, cfg), cfg,
                    star_reduce_threshold=cfg.band_bucket_cap).write.parquet(cands_path)
    cands = read(cands_path)
    spec = page_rules_spec()
    plans = {
        "minhash": lambda: with_minhash(corpus, cfg, id_col="url", text_col="text"),
        "lsh_candidates": lambda: candidate_pairs(
            band_table(sigs, cfg), cfg, star_reduce_threshold=cfg.band_bucket_cap),
        "jaccard_verify": lambda: verify_candidates(
            cands, corpus, id_col="url", text_col="text", threshold=cfg.jaccard_threshold,
            shingle_k=cfg.shingle_k, candidates_distinct=True),
        "simhash_pairs": lambda: hamming_pairs(
            with_simhash(corpus, cfg, id_col="url", text_col="text"), cfg),
        "window_pairs": lambda: suffix_window_pairs(
            corpus, id_col="url", text_col="text", window_tokens=cfg.window_tokens,
            max_df=cfg.window_max_df),
        "rule_pairs": lambda: rule_pairs(
            corpus, list(spec.rules), spec.derived(), id_col="url",
            genre_col=spec.genre_col, flags_col=spec.flags_col),
        "cc": lambda: attach_singletons(
            connected_components(edges, cfg=cfg), corpus.select("url"), node_col="url"),
        "business_view": lambda: business_view(
            corpus, labels, edges, signatures=sigs, n_salts=cfg.salt_buckets,
            max_members_inline=cfg.chain_max_members),
    }
    out = {}
    for name, plan in plans.items():
        t0 = time.perf_counter()
        with tracer.span(f"op.{name}"):
            plan().write.format("noop").mode("overwrite").save()
        out[f"op.{name}.s"] = time.perf_counter() - t0
    n_cands = cands.count()
    n_verified = plans["jaccard_verify"]().count()
    out["lsh.verify_yield"] = n_verified / n_cands if n_cands else 0.0
    return out


def kernel_bench(root: Path, seed: int, n_pages: int) -> dict[str, float]:
    """``perfbench/kernels.py`` in a fresh interpreter (no Spark, cold memos)."""
    proc = subprocess.run(
        [sys.executable, str(root / "perfbench" / "kernels.py"),
         "--seed", str(seed), "--pages", str(n_pages)],
        cwd=str(root), capture_output=True, text=True, timeout=120, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])
