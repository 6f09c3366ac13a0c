"""End-to-end batch dedup pipeline (the flagship job).

Stage dataflow (SURVEY.md §3.4), each stage a checkpointed table so a
killed job resumes idempotently — the deterministic-batch replacement for
the reference's per-record update + version-conflict retry loop
(/root/reference/src/documentsManager.js:220-356):

  pages ─ extract ─→ corpus(url, text, lang, source, session)
        ─ one text kernel ─→ features(url, minhash[128], n_shingles
                                     + the engines' shingles, simhash, wkeys)
        ─ signatures ─→ (url, minhash[128], n_shingles)
        ─ banding + self-join ─→ candidate_edges(src, dst, rules)
        ─ exact-Jaccard verify ─→ verified edges (+ per-pair provenance,
                                   the reference's matched_queries P11)
        ─ connected components ─→ cluster_labels(url, component)
        ─ cluster aggregates ─→ clusters(cluster_id, chain, members,
                                   sources, size, truncated, is_duplicate)
        ─ business view over the stored clusters table
                             ─→ enriched (optional per-record write-back)

Stage table and loop: each stage is one pure function (``corpus_stage``,
``signatures_stage``, ``candidate_edges_stage``, ``cluster_labels_stage``,
``clusters_stage``, ``enriched_stage``) from DataFrames and ``cfg`` to
``(frame to store, eager counters, lineage aggregates)``; the aggregates
are Column expressions. No stage function touches the catalog.
:func:`run_pipeline` lists the stages in order and drives them from one
loop that owns, for every stage: the resume check, the stage timer, the
write — with the aggregates attached through ``DataFrame.observe``, so
the write job itself computes them and no stage runs a counting job —
the manifest counters (every observed aggregate), and the lineage
record, always the stage's last call. Every stage, the enriched one
included, is one StageCatalog table under ``<workdir>/<stage>``,
rewritten whole on a non-resumed run: the batch recomputes every record,
so nothing is merged into an earlier run's rows. Its manifest stores
the written schema, and every read of a stage table, the write's own
re-read and a resumed stage alike, takes that schema instead of inferring
one from the files in a Spark job. Keyed MERGE
(sources/upsert.py) is for state where only touched records change, the
incremental session tables (streaming/incremental.py). The candidate
stage's engines are one table too, :data:`ENGINES`; the selected ones are
built concurrently, one thread each, and unioned in that table's order.
The text kernel (operators/minhash.py::text_features_udf) tokenizes each
document once for every engine: :func:`corpus_features` runs it for the
signatures' ``minhash`` + ``n_shingles`` plus the field of each selected
engine that reads one (:data:`ENGINE_FEATURES`: MinHash-verify
``shingles``, SimHash ``simhash``, window ``wkeys``), and the signatures
stage writes its MinHash columns. When such an engine runs, the frame is
persisted and the engine reads its field from the cache through the
operators' join halves (``verify_pairs``, ``hamming_join``,
``window_pairs``) instead of re-running a kernel over the corpus; it is
unpersisted once candidate_edges is written, and on resume recomputed
from the stored corpus. A run with none of those engines (rules,
substring, ann) computes only the signature fields and persists nothing.
The clusters and enriched stages share one cluster aggregate
(plans/business_view.py::cluster_table): the enriched stage reads chain,
members, sources and size from the stored clusters table instead of
re-aggregating the labels.

Cluster fields mirror the reference's rewrite outputs: chain ≡
``business.sourceUidChain`` (documentsManager.js:287-289), sources ≡
sorted distinct member sources (documentsManager.js:288), is_duplicate ≡
``business.isDuplicate`` (painless/updateDuplicatesGraph.painless:216-218).

Scale strategy (100 TB / 10^12 docs):
  * text kernel: narrow projection (url, text), repartitioned when
    under-parallel, into the one Arrow UDF — one tokenization per
    document. Its frame is persisted (memory and disk, recomputable from
    the stored corpus, unlike a localCheckpoint) only until
    candidate_edges is written, and holds only the selected engines'
    fields. Stored arrays instead of re-tokenizing per engine (what the
    standalone operators do, each checkpointing its own keys): the
    ``shingles`` and ``wkeys`` arrays are ~8 bytes per token for EVERY
    document, where standalone verification shingles candidate docs only.
    With the window engine the cache is the smaller — on the 2,000-page
    benchmark corpus with the four engines of its batch_dedup run, 6.6 MB
    against 30.4 MB of standalone checkpoints (the exploded window keys
    alone are 29.7 MB). With MinHash alone it is the larger: 4.6 MB
    (signatures plus every doc's shingles) against the 0.43 MB standalone
    verification checkpoints for candidate docs.
    The signatures table written back is url + 128 longs — ~1 KB/doc, no
    document bodies move after this stage.
  * band join: shuffle keys are (band_id, band_hash) 16-byte pairs; AQE
    skew-join plus star reduction of buckets above ``cfg.band_bucket_cap``
    (lsh.py), whose one bucket aggregate also yields the bucket profile.
  * verification joins only candidate pairs to the cached shingle sets —
    never a cross product.
  * CC: O(log n) star rounds, each a localCheckpoint to cut lineage.
"""

from __future__ import annotations

import functools
import time
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.extract import extracted_text
from ..operators.connected_components import attach_singletons, connected_components
from ..operators.jaccard import verify_pairs
from ..operators.lsh import band_table, candidate_pairs, hot_buckets
from ..operators.minhash import perm_params, spread, text_features
from ..sources.catalog import StageCatalog
from .business_view import cluster_table, record_view

# (frame to store, counters computed eagerly, lineage aggregates)
StageOutput = tuple[DataFrame, dict, dict[str, Column]]


def _source_expr(url):
    return F.regexp_extract(url, r"^https?://([^/]+)/", 1)


def _session_expr(ts):
    return F.date_format(ts, "yyyy-MM")


def corpus_stage(pages: DataFrame, cfg: DedupConfig) -> StageOutput:
    """Extraction + per-page metadata + quality flags.

    quality_flags lists FIELD NAMES whose values are present but unusable
    — the batch analogue of ES populating `_ignored` on malformed fields
    at index time (documentsManager.js:206-218). The rules engine treats
    flagged fields as absent (P14); flag counts ride into lineage."""
    text = extracted_text(F.col("html"))
    lang = F.col("lang")
    quality_flags = F.filter(
        F.array(
            # oversize document: value exists but would be rejected by
            # the index (ignore_above analogue)
            F.when(F.length(text) > cfg.max_doc_chars, F.lit("text")),
            # malformed language tag: present but not BCP-47-shaped
            F.when(
                lang.isNotNull()
                & (F.length(F.trim(lang)) > 0)
                & ~F.trim(lang).rlike(r"^[a-zA-Z]{2,3}([-_][a-zA-Z0-9]{2,8})?$"),
                F.lit("lang"),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    corpus = pages.select(
        F.col("url"),
        text.alias("text"),
        lang,
        _source_expr(F.col("url")).alias("source"),
        _session_expr(F.col("warc_ts")).alias("session"),
        quality_flags.alias("quality_flags"),
    )
    return corpus, {}, {
        "flagged_records": F.sum((F.size("quality_flags") > 0).cast("long")),
    }


# candidate engine → the text-kernel field it reads from the features frame
ENGINE_FEATURES = {"minhash": "shingles", "simhash": "simhash", "window": "wkeys"}


def corpus_features(corpus: DataFrame, cfg: DedupConfig, engines: tuple[str, ...]) -> DataFrame:
    """The signatures' ``minhash`` + ``n_shingles`` and each selected
    engine's field (:data:`ENGINE_FEATURES`) for every corpus document,
    from one kernel pass (operators/minhash.py::text_features_udf), keyed
    by ``doc`` = url."""
    fields = ("minhash", "n_shingles", *(f for e, f in ENGINE_FEATURES.items() if e in engines))
    return text_features(spread(corpus, "url", "text"), fields, "doc",
                         shingle_k=cfg.shingle_k, window_tokens=cfg.window_tokens,
                         simhash_bits=cfg.simhash_bits, perms=perm_params(cfg))


def signatures_stage(features: DataFrame, cfg: DedupConfig) -> StageOutput:
    """MinHash signatures; NULL for non-deduplicable (token-less) docs."""
    sigs = features.select("doc", "minhash", "n_shingles")
    return sigs, {}, {"non_deduplicable": F.sum(F.col("minhash").isNull().cast("long"))}


class EngineInputs(NamedTuple):
    """What the candidate engines read: stage tables plus run options."""

    corpus: DataFrame
    signatures: DataFrame
    features: DataFrame  # corpus_features, persisted for the engines that read it
    embeddings: DataFrame | None
    rule_spec: object


def _minhash_engine(x: EngineInputs, cfg: DedupConfig, counters: dict) -> DataFrame:
    bands = band_table(x.signatures, cfg)
    # no-silent-caps: the full bucket profile rides into lineage on every
    # run, observed by the job that checkpoints the hot-bucket table — ONE
    # aggregation over the band table, shared with candidate_pairs.
    # Buckets above band_bucket_cap are star-reduced; a cap at least as
    # large as the largest bucket leaves none hot, and the plan is exact.
    hot, profile = hot_buckets(bands, cfg.band_bucket_cap)
    counters.update({f"lsh_{k}": v for k, v in _observed(profile).items()})
    counters["lsh_star_threshold"] = cfg.band_bucket_cap
    cands = candidate_pairs(bands, cfg, star_reduce_threshold=cfg.band_bucket_cap,
                            hot=(hot, profile))
    if counters["lsh_hot_buckets"] > 0:
        # star reduction actually engaged: it trades pair recall in
        # mega-buckets for O(b) edges (lsh.py docstring) — make the
        # trade observable: pre-verification candidate count rides
        # into lineage. (Clean corpora skip this count job; the bucket
        # profile proves nothing was reduced.)
        cands = cands.localCheckpoint()
        counters["minhash_candidates_pre_verify"] = cands.count()
    # candidate_pairs ends in distinct(); the shingle sets are cached
    shingles = x.features.select("doc", F.col("shingles").alias("tokens"),
                                 F.col("n_shingles").alias("n_tokens"))
    verified = verify_pairs(cands, shingles, cfg.jaccard_threshold)
    return verified.select(
        "src", "dst",
        F.col("jaccard").alias("score"),
        F.lit(f"minhash-lsh:k{cfg.shingle_k}p{cfg.num_perms}b{cfg.lsh_bands}").alias("rule"),
    )


def _simhash_engine(x: EngineInputs, cfg: DedupConfig, counters: dict) -> DataFrame:
    from ..operators.simhash import hamming_join

    hp = hamming_join(x.features.select("doc", "simhash"), cfg)
    return hp.select(
        "src", "dst",
        (1 - F.col("hamming") / F.lit(cfg.simhash_bits)).alias("score"),
        F.lit(f"simhash:hd{cfg.hamming_max}b{cfg.simhash_bits}").alias("rule"),
    )


def _substring_engine(x: EngineInputs, cfg: DedupConfig, counters: dict) -> DataFrame:
    from ..operators.substring import containment_pairs

    cp = containment_pairs(
        x.corpus, id_col="url", text_col="text",
        min_tokens=cfg.substring_min_tokens, shingle_k=cfg.shingle_k,
    )
    return cp.select(
        F.least("inner", "outer").alias("src"),
        F.greatest("inner", "outer").alias("dst"),
        F.lit(1.0).alias("score"),
        F.lit(f"substring-containment:min{cfg.substring_min_tokens}").alias("rule"),
    )


def _window_engine(x: EngineInputs, cfg: DedupConfig, counters: dict) -> DataFrame:
    from ..operators.substring import window_pairs

    # duplicated-passage evidence: shared exact w-token window.
    # cfg.window_max_df caps boilerplate inside the pipeline, and the count
    # of hot keys the cap dropped goes into lineage — the graded standalone
    # query stays uncapped.
    windows = x.features.select("doc", F.explode("wkeys").alias("wkey"))
    wp, n_dropped = window_pairs(windows, cfg.window_max_df)
    counters["window_max_df"] = cfg.window_max_df
    counters["window_hot_keys_dropped"] = n_dropped
    return wp.select(
        "src", "dst", F.lit(1.0).alias("score"),
        F.lit(f"window:w{cfg.window_tokens}df{cfg.window_max_df}").alias("rule"),
    )


def _ann_engine(x: EngineInputs, cfg: DedupConfig, counters: dict) -> DataFrame:
    from ..operators.ann import ivf_dup_pairs

    # embedding-cosine evidence on the IVF scale path (equi-join on
    # centroid_id, exact rescore). Ids must be the corpus url.
    ap = ivf_dup_pairs(
        x.embeddings, threshold_micro=cfg.ann_threshold_micro,
        n_centroids=cfg.ann_centroids, n_probes=cfg.ann_probes,
        id_col="url", vec_col="embedding",
        kmeans_iters=cfg.ann_kmeans_iters,
    )
    return ap.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        (F.col("cos_micro") / F.lit(1_000_000.0)).alias("score"),
        F.lit(
            f"ann-cosine:t{cfg.ann_threshold_micro}c{cfg.ann_centroids}p{cfg.ann_probes}"
        ).alias("rule"),
    )


def _rules_engine(x: EngineInputs, cfg: DedupConfig, counters: dict) -> DataFrame:
    from .rules import rule_pairs

    spec = x.rule_spec
    rp = rule_pairs(
        x.corpus, list(spec.rules), spec.derived(),
        id_col="url", genre_col=spec.genre_col, flags_col=spec.flags_col,
    )
    # one provenance row per (pair, rule name) — the reference's
    # matched_queries become first-class edges in the same union
    return rp.select("src", "dst", F.lit(1.0).alias("score"),
                     F.explode("rules").alias("rule"))


# engine name → (inputs, cfg, counters) -> (src, dst, score, rule) edges;
# engines run in this order whatever order the caller lists them in
ENGINES = {
    "minhash": _minhash_engine,
    "simhash": _simhash_engine,
    "substring": _substring_engine,
    "window": _window_engine,
    "ann": _ann_engine,
    "rules": _rules_engine,
}


def candidate_edges_stage(x: EngineInputs, cfg: DedupConfig,
                          engines: tuple[str, ...]) -> StageOutput:
    """Per-engine candidates + verify + per-pair provenance union.

    The engines are independent clauses of one disjunction (the
    reference's bool-should, deduplicateQueryBuilder.js:56-67), so they
    are built concurrently, one thread each: their eager pre-passes
    (hot-bucket and hot-key checkpoints, the rules base) and the driver's
    planning between them overlap instead of queueing. Each thread
    inherits the caller's job group and local properties, and each engine
    fills its own counters dict; both the union and the counters follow
    :data:`ENGINES` order, whatever order the threads finish in."""
    # one inheritable_thread_target call per engine: each call copies the
    # caller's local properties, so no two threads share (and mutate) one
    spark = x.corpus.sparkSession
    built = [inheritable_thread_target(spark)(fn)
             for name, fn in ENGINES.items() if name in engines]
    per_counters = [{} for _ in built]
    with ThreadPoolExecutor(len(built)) as pool:
        per_engine = list(pool.map(lambda build, c: build(x, cfg, c), built, per_counters))
    counters: dict = {"engines": list(engines)}
    for c in per_counters:
        counters.update(c)
    union = functools.reduce(DataFrame.unionByName, per_engine)
    # P11/A5: per-pair sorted rule union (documentsManager.js:292-298);
    # score = best evidence across engines. r6 (guide §2.4): when ONE
    # engine ran AND its output is pair-unique by construction (minhash:
    # distinct candidates verified 1:1; window: per-pair groupBy; ann:
    # distinct pairs), the groupBy is the identity — a single-element
    # collect_set IS array(rule) — so the flagship single-engine pipeline
    # skips a full shuffle of the edge set. ("rules" emits one row per
    # (pair, rule) and "substring" can emit a mutual-containment pair
    # twice, so those still aggregate.)
    if len(per_engine) == 1 and engines[0] in ("minhash", "window", "ann"):
        edges = union.select("src", "dst", F.array(F.col("rule")).alias("rules"),
                             F.col("score"))
    else:
        edges = union.groupBy("src", "dst").agg(
            F.array_sort(F.collect_set("rule")).alias("rules"),
            F.max("score").alias("score"),
        )
    return edges.withColumn("session", F.lit(cfg.session_name)), counters, {}


def cluster_labels_stage(edges: DataFrame, corpus: DataFrame,
                         cfg: DedupConfig) -> StageOutput:
    """Connected components over the edges; unmatched docs are singletons."""
    labels = connected_components(edges, cfg=cfg)
    return attach_singletons(labels, corpus.select("url"), node_col="url"), {}, {}


def clusters_stage(labels: DataFrame, corpus: DataFrame, cfg: DedupConfig) -> StageOutput:
    """Cluster table (A3/A4 aggregates + flags), :func:`cluster_table`
    capped at ``cfg.chain_max_members``; the cap is logged to lineage,
    never silent."""
    clusters = cluster_table(labels, corpus, cfg.salt_buckets, cfg.chain_max_members)
    return clusters, {"chain_max_members": cfg.chain_max_members}, {
        "duplicate_clusters": F.sum(F.col("is_duplicate").cast("long")),
        "capped_clusters": F.sum(F.col("truncated").cast("long")),
        "max_cluster_size": F.max(F.col("size")),
    }


def enriched_stage(clusters: DataFrame, corpus: DataFrame, labels: DataFrame,
                   edges: DataFrame, signatures: DataFrame, cfg: DedupConfig) -> StageOutput:
    """Per-record enriched write-back (S3/S8/G4).

    The reference's true end state: every document rewritten with its
    duplicates adjacency, chain, sources, rules provenance, and S7 date
    stamps (painless/updateDuplicatesGraph.painless:160-232 +
    setCreationAndModificationDate.painless). It reads chain, members,
    sources, size and the cap from the stored clusters table, so the
    labels are not aggregated a second time. Every record is recomputed on
    every run, so :func:`run_pipeline` writes the whole table as a stage
    table; a url that left the corpus leaves the table with it."""
    from ..sources.upsert import ingest_defaults

    view = record_view(
        clusters, corpus, labels, edges, signatures=signatures,
        n_salts=cfg.salt_buckets, max_members_inline=cfg.chain_max_members,
    )
    return ingest_defaults(view, uid_col="url", source_col=None), {}, {}


def _observed(obs: Observation | None) -> dict:
    """Observed lineage aggregates as ints (NULL → 0)."""
    return {} if obs is None else {k: int(v or 0) for k, v in obs.get.items()}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    cfg: DedupConfig | None = None,
    resume: bool = True,
    engines: tuple[str, ...] = ("minhash",),
    enriched: bool = False,
    rule_spec=None,
    embeddings: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the dedup pipeline with the selected engines.

    ``engines`` ⊆ {"minhash", "simhash", "substring", "rules", "window",
    "ann"} — the three interoperable similarity engines (BASELINE.json
    north_star) plus the config-driven metadata rule engine (the
    reference's actual core: its rule disjunction IS its candidate stage,
    getBaseRequest.js:1-8), the duplicated-passage window engine
    (suffix_window_pairs with ``cfg.window_max_df`` boilerplate capping),
    and the embedding-cosine ANN engine (ivf_dup_pairs; requires
    ``embeddings`` with columns (url, embedding)). All engines' edges are
    unioned with per-pair rule provenance before clustering, the batch
    analogue of `minimum_should_match:1` with `matched_queries`
    provenance (deduplicateQueryBuilder.js:56-67) — so window and ANN
    evidence flows through the same provenance union → CC → enriched
    write-back as every other engine.

    ``rule_spec``: a :class:`~co_deduplicate_spark.plans.rules.RuleEngineSpec`
    for the "rules" engine; defaults to the web-page scenario
    (plans/scenarios.py::page_rules_spec), which consumes the stage-1
    ``quality_flags`` column as its P14 `_ignored` gate.

    LSH blocking has one mode: buckets larger than ``cfg.band_bucket_cap``
    are star-reduced — smaller buckets keep exact cliques — so the plan is
    the one that survives a boilerplate mega-bucket at 100× (O(b) star
    edges instead of O(b²) pairs; connectivity preserved, see
    operators/lsh.py). Exact pair semantics for every bucket takes a cap
    at least as large as the largest bucket (quadratic in the hottest
    bucket, only safe on curated corpora). The full bucket profile
    (``lsh_n_buckets``, ``lsh_max_bucket``, ``lsh_hot_buckets``,
    ``lsh_clique_pairs_if_exact``, ...) is logged to lineage on every
    non-resumed run.

    The corpus urls must be unique: before the clusters stage is built,
    the cluster_labels row count (one row per distinct url) is checked
    against the corpus row count, and a mismatch raises ``ValueError``.

    ``enriched``: also run the enriched stage, stored like every other
    stage as ``<workdir>/enriched`` and rewritten whole on each
    non-resumed run.

    Returns the stage tables: corpus, signatures, candidate_edges,
    cluster_labels, clusters (and enriched).
    """
    cfg = cfg or DedupConfig()
    engines = tuple(e for e in engines if e)
    if not engines:
        raise ValueError("at least one engine required")
    unknown = set(engines) - ENGINES.keys()
    if unknown:
        raise ValueError(f"unknown engines: {unknown}")
    if "rules" in engines and rule_spec is None:
        from .scenarios import page_rules_spec

        rule_spec = page_rules_spec()
    if "ann" in engines and embeddings is None:
        raise ValueError('engine "ann" requires an embeddings DataFrame '
                         "with columns (url, embedding)")
    # engine selection + rule config participate in the stage-invalidation
    # hash: a resume must never reuse candidate_edges computed under a
    # different engine set or rule set
    config_hash = f"{cfg.config_hash()}-{'+'.join(sorted(engines))}"
    if "rules" in engines:
        config_hash += f"-rules{rule_spec.config_key()}"
    cat = StageCatalog(spark, workdir, config_hash)
    out: dict[str, DataFrame] = {}
    # the corpus_features frame, built on first use (from the stored corpus
    # on resume); persisted only when an engine reads it after the
    # signatures stage, and released once candidate_edges is written
    held: list[DataFrame] = []
    shared = not ENGINE_FEATURES.keys().isdisjoint(engines)

    def features() -> DataFrame:
        if not held:
            f = corpus_features(out["corpus"], cfg, engines)
            held.append(f.persist() if shared else f)
        return held[0]

    def release() -> None:
        while held:
            held.pop().unpersist()

    def unique_url_labels() -> DataFrame:
        # cluster_labels holds one row per distinct corpus url (plus any
        # edge endpoint outside the corpus), so the two footer counts are
        # equal exactly when the corpus urls are unique and every edge
        # endpoint is a corpus url; a duplicated url would otherwise be
        # counted twice in its cluster's size
        n_corpus = cat.manifest("corpus")["rows"]
        n_labels = cat.manifest("cluster_labels")["rows"]
        if n_labels != n_corpus:
            raise ValueError(
                f"corpus urls must be unique and every edge endpoint a corpus url: "
                f"corpus has {n_corpus} rows, cluster_labels {n_labels} distinct urls")
        return out["cluster_labels"]

    stages = [
        ("corpus", lambda: corpus_stage(pages, cfg)),
        ("signatures", lambda: signatures_stage(features(), cfg)),
        ("candidate_edges", lambda: candidate_edges_stage(
            EngineInputs(out["corpus"], out["signatures"], features(), embeddings, rule_spec),
            cfg, engines)),
        ("cluster_labels", lambda: cluster_labels_stage(
            out["candidate_edges"], out["corpus"], cfg)),
        ("clusters", lambda: clusters_stage(unique_url_labels(), out["corpus"], cfg)),
    ]
    if enriched:
        stages.append(("enriched", lambda: enriched_stage(
            out["clusters"], out["corpus"], out["cluster_labels"],
            out["candidate_edges"], out["signatures"], cfg)))

    try:
        for name, build in stages:
            t0 = time.monotonic()
            if resume and cat.is_complete(name):
                out[name] = cat.read(name)
                continue
            df, counters, aggs = build()
            obs = None
            if aggs:  # computed by the write job below, no counting job
                obs = Observation(f"lineage.{name}")
                df = df.observe(obs, *(c.alias(k) for k, c in aggs.items()))
            # the observed aggregates also go into the manifest, so a
            # stored stage keeps its counters next to its data
            out[name] = cat.write(name, df, counters=lambda: _observed(obs))
            cat.log_lineage(name, {"rows_out": cat.manifest(name)["rows"],
                                   **_observed(obs), **counters,
                                   "wall_s": round(time.monotonic() - t0, 2),
                                   **cat.partition_summary(name)})
            if name == "candidate_edges":
                release()
    finally:
        release()
    return out


def predicted_pairs(clusters: DataFrame) -> DataFrame:
    """Explode clusters back to intra-cluster pairs (url_a < url_b) for
    recall measurement against golden_pairs (BASELINE.md protocol)."""
    a = clusters.select(F.col("cluster_id"), F.explode("members").alias("url_a"))
    b = clusters.select(F.col("cluster_id"), F.explode("members").alias("url_b"))
    return (
        a.join(b, "cluster_id")
        .filter(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
    )
