"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (+ the training-data-pipeline extensions); ``oracle_sql()``
gives the DuckDB-equivalent for every SQL-expressible one. Column names
and value encodings are mirrored exactly (integer ppm/micro/cents instead
of floats wherever a rounded double could diverge between engines).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from co_deduplicate_spark.config import DedupConfig
from co_deduplicate_spark.functions.normalize import (
    duckdb_norm_sql,
    duckdb_tokens_sql,
    norm_expr,
    tokens_expr,
)
from co_deduplicate_spark.functions.text_stats import STOPWORDS
from co_deduplicate_spark.operators.ann import cosine_topk
from co_deduplicate_spark.operators.exact import exact_dup_clusters
from co_deduplicate_spark.operators.jaccard import jaccard_pairs, verify_candidates
from co_deduplicate_spark.operators.lsh import band_table, candidate_pairs
from co_deduplicate_spark.operators.minhash import with_minhash
from co_deduplicate_spark.operators.simhash import hamming_pairs, with_simhash
from co_deduplicate_spark.operators.substring import containment_pairs
from co_deduplicate_spark.plans.business_view import (
    business_view,
    cluster_table,
    with_session_predicates,
)
from co_deduplicate_spark.plans.pipeline import cluster_labels_stage
from co_deduplicate_spark.plans.rules import Rule, rule_pairs

CFG = DedupConfig()
JACCARD_PPM = 800_000  # 0.8 threshold, exact integer form

# `documents` is ASCII-clean (verified against strip_accents in all sf dirs),
# so the JVM-only normalizer (fold=False) is exact there and the whole text
# path stays in whole-stage codegen; the DuckDB mirror keeps strip_accents,
# which is the identity on ASCII.
ASCII_FOLD = False


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SCRATCH_ROOTS: set = set()


def _scratch(sf_dir: str, family: str) -> str:
    """Per-process scratch dir for queries that materialize state (upsert
    tables, stream checkpoints): tmpfs when available, keyed by sf tag AND
    pid so concurrent invocations at the same scale factor (e.g. bench and
    correctness runs in parallel) never race on table state or
    checkpoints. Each query still pre-cleans its own path. Against
    accumulation of RAM-backed garbage across processes: this process's
    roots are rmtree'd at exit (atexit, registered once per root), and
    sibling ``{family}_<pid>`` dirs whose owning pid no longer exists are
    pruned eagerly — a SIGKILLed bench run's leftovers go away on the next
    invocation instead of living in /dev/shm forever."""
    import atexit
    import os
    import shutil
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = f"{base}/{family}_{os.getpid()}"
    if root not in _SCRATCH_ROOTS:
        _SCRATCH_ROOTS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        # prune siblings owned by dead processes (same family only)
        try:
            import glob

            for sib in glob.glob(f"{base}/{family}_*"):
                pid_part = sib.rsplit("_", 1)[-1]
                if not pid_part.isdigit() or int(pid_part) == os.getpid():
                    continue
                try:
                    os.kill(int(pid_part), 0)
                except ProcessLookupError:
                    shutil.rmtree(sib, ignore_errors=True)
                except (PermissionError, ValueError):
                    pass
        except OSError:
            pass
    return f"{root}/{tag}"


# --------------------------------------------------------------------------
# shared DuckDB fragments (mirrors of functions/normalize.py expressions)
# --------------------------------------------------------------------------

_SQL_TOKS = f"SELECT doc_id, {duckdb_tokens_sql('text')} AS ts FROM documents"
_SQL_NORM = duckdb_norm_sql("text")
_SQL_SHINGLES3 = (
    "SELECT doc_id, list_distinct(list_filter(list_transform("
    "range(0, greatest(len(ts) - 2, 1)), i -> array_to_string(ts[i+1:i+3], ' ')), "
    "s -> s != '')) AS sh FROM toks"
)

_SQL_SHINGLE_PAIRS = f"""
WITH toks AS ({_SQL_TOKS}),
sh AS ({_SQL_SHINGLES3}),
sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
post AS (SELECT doc_id, unnest(sh) AS s FROM sh),
ipairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS cnt
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT src, dst, (cnt * 1000000) // (sa.n + sb.n - cnt) AS jaccard_ppm
FROM ipairs JOIN sizes sa ON sa.doc_id = src JOIN sizes sb ON sb.doc_id = dst
WHERE (cnt * 1000000) // (sa.n + sb.n - cnt) >= {JACCARD_PPM}
"""

# IVF assignment mirror (operators/ann.py determinism contract): integer-
# quantized vectors (round(x*1e6)) whose dot products are exact in float64,
# centroids = the 32 LOWEST vec_ids (true ORDER BY ... LIMIT, mirroring the
# Spark side's orderBy().limit() — robust to sparse/offset id spaces),
# cosm = micro-cosine to each centroid, rn = probe rank (1 = assignment bucket)
_SQL_IVF = """
ei AS (SELECT vec_id,
              list_transform(embedding::DOUBLE[], x -> round(x * 1000000)) AS vi,
              embedding::DOUBLE[] AS v
       FROM embeddings),
cent AS (SELECT vec_id AS cid, vi AS ci, sqrt(list_dot_product(vi, vi)) AS cnorm
         FROM ei QUALIFY row_number() OVER (ORDER BY vec_id) <= 32),
vc AS (SELECT e.vec_id, c.cid,
              CAST(round(1000000 * list_dot_product(e.vi, c.ci)
                   / (sqrt(list_dot_product(e.vi, e.vi)) * c.cnorm)) AS BIGINT) AS cosm
       FROM ei e CROSS JOIN cent c),
ranked AS (SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id ORDER BY cosm DESC, cid) AS rn
           FROM vc)
"""

def _sql_ivf_kmeans(n_iters: int, n_centroids: int = 32, dims: int = 64) -> str:
    """CTE chain mirroring operators/ann.py::kmeans_centroids: cent0 = the
    K lowest-vec_id vectors (cid = 0-based position, matching the Spark
    side's cosc array index), then per iteration (a) assign by integer
    micro-cosine with lowest-cid tie-break, (b) new centroid component =
    floor(sum/count) over members' quantized components (exact in float64
    at oracle scale), empty OR degenerate (all-zero) centroids carried
    forward and zero-norm input vectors given the same -1_000_000 sentinel
    as the Spark kernel AND excluded from the mean update (a zero vector
    must not drag a centroid toward the origin) — all deterministic-guard
    behaviors of operators/ann.py are mirrored, not just the happy path. ``dims`` is a
    constant because DuckDB's range() takes only constants; all testdata
    embeddings are 64-d (the Spark side is dim-agnostic)."""
    ctes = [
        "ei AS (SELECT vec_id, "
        "list_transform(embedding::DOUBLE[], x -> round(x * 1000000)) AS vi, "
        "embedding::DOUBLE[] AS v FROM embeddings)",
        f"cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vi AS ci "
        f"FROM ei QUALIFY row_number() OVER (ORDER BY vec_id) <= {n_centroids})",
    ]
    micro_cos = (
        "CASE WHEN list_dot_product(e.vi, e.vi) = 0 THEN -1000000 "
        "ELSE CAST(round(1000000 * list_dot_product(e.vi, c.ci) / "
        "(sqrt(list_dot_product(e.vi, e.vi)) * sqrt(list_dot_product(c.ci, c.ci)))) AS BIGINT) "
        "END AS cosm"
    )
    for i in range(1, n_iters + 1):
        p = i - 1
        ctes += [
            f"vc{i} AS (SELECT e.vec_id, c.cid, {micro_cos} "
            f"FROM ei e CROSS JOIN cent{p} c)",
            f"asg{i} AS (SELECT vec_id, cid FROM vc{i} "
            f"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cosm DESC, cid) = 1)",
            # zero-norm vectors are sentinel-assigned but excluded from the
            # mean update (same guard as the Spark kernel's `valid` mask)
            f"upd{i} AS (SELECT a.cid, d.d, "
            f"CAST(floor(sum(e.vi[d.d]) / count(*)) AS DOUBLE) AS val "
            f"FROM asg{i} a JOIN ei e USING (vec_id) CROSS JOIN range(1, {dims + 1}) d(d) "
            f"WHERE list_dot_product(e.vi, e.vi) > 0 "
            f"GROUP BY a.cid, d.d)",
            f"newc{i} AS (SELECT cid, ci FROM "
            f"(SELECT cid, list(val ORDER BY d) AS ci FROM upd{i} GROUP BY cid) "
            f"WHERE list_dot_product(ci, ci) > 0)",
            f"cent{i} AS (SELECT c.cid, coalesce(n.ci, c.ci) AS ci "
            f"FROM cent{p} c LEFT JOIN newc{i} n USING (cid))",
        ]
    ctes += [
        f"vc AS (SELECT e.vec_id, c.cid, {micro_cos} "
        f"FROM ei e CROSS JOIN cent{n_iters} c)",
        "ranked AS (SELECT vec_id, cid, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY cosm DESC, cid) AS rn FROM vc)",
    ]
    return ",\n".join(ctes)


_SQL_SIMHASH = f"""
toks AS ({_SQL_TOKS}),
shs AS ({_SQL_SHINGLES3}),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(sh) AS t FROM shs)
),
votes AS (
  SELECT doc_id, b.b AS b,
         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed, (SELECT unnest(range(60)) AS b) b
  GROUP BY doc_id, b.b
),
simhashes AS (
  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id
)
"""


# --------------------------------------------------------------------------
# Spark-side helpers
# --------------------------------------------------------------------------

# Several queries (minhash_lsh_pairs, dup_clusters_cc, cluster_chains,
# session_predicates, business_view_enriched) consume the same verified
# edge set — materialize it once per (application, sf_dir), exactly like
# the pipeline's checkpointed candidate_edges stage table. The frozen
# bench clears it per pass, so passes stay independent.
_VERIFIED_CACHE: dict[tuple[str, str], DataFrame] = {}


def _lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash→LSH→exact-verify on documents (the flagship dedup path)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _VERIFIED_CACHE:
        docs = _t(spark, sf_dir, "documents")
        sigs = with_minhash(docs, CFG, id_col="doc_id", text_col="text")
        # the band self-join expands its input once per side: materialize
        # the bands so the Arrow signature kernel runs once, not per side
        bands = band_table(sigs, CFG).localCheckpoint()
        verified = verify_candidates(
            candidate_pairs(bands, CFG), docs, id_col="doc_id", text_col="text",
            threshold=CFG.jaccard_threshold, shingle_k=CFG.shingle_k,
            candidates_distinct=True,  # candidate_pairs ends in distinct()
        )
        _VERIFIED_CACHE[key] = verified.localCheckpoint()
    return _VERIFIED_CACHE[key]


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node long, component long): the pipeline's cluster_labels stage
    over the verified dup edges.

    CC is type-preserving — long node ids shuffle as longs (half the width
    of the round-1 zero-padded strings) and component = numeric min member
    (matches the SQL oracle's least())."""
    corpus = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("url"))
    return cluster_labels_stage(_lsh_verified_pairs(spark, sf_dir), corpus, CFG)[0]


_SQL_CC = f"""
WITH RECURSIVE pairs AS ({_SQL_SHINGLE_PAIRS}),
sym AS (SELECT src AS u, dst AS v FROM pairs UNION SELECT dst, src FROM pairs),
reach(a, b) AS (
    SELECT u, v FROM sym
  UNION
    SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
),
comp AS (SELECT a AS doc, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
"""


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_exact_dup_clusters(spark, sf_dir):
    """S4/A1 analogue: hash-groupBy exact dedup (raw text).

    The corpus is `documents` plus deterministic planted mirrors — every
    doc with doc_id % 10 == 0 reappears as (doc_id + 1_000_000, same
    text, source='mirror'), synthesized identically on both engines — so
    the query returns non-empty groups at EVERY scale factor and the
    chain/sources aggregation is actually graded (the raw testdata has no
    byte-identical duplicates below sf0.1, which left this row passing
    vacuously 0=0 in rounds 1-3)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    mirrors = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text",
        F.lit("mirror").alias("source"),
    )
    return exact_dup_clusters(
        docs.unionByName(mirrors), id_col="doc_id", text_col="text",
        normalized=False, source_col="source",
    ).select("content_key", "cluster_size", "chain", "sources")


def q_doc_profile(spark, sf_dir):
    """F1-F5 + text-analysis battery: normalization fingerprint, token and
    shingle counts, alpha ratio (exact ppm)."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"), fold=ASCII_FOLD)
    sh = F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
            ),
            lambda s: s != "",
        )
    )
    alpha_ppm = F.expr(
        "CASE WHEN length(text) > 0 THEN "
        "(CAST(length(regexp_replace(text, '[^A-Za-z]', '')) AS BIGINT) * 1000000) div length(text) "
        "ELSE NULL END"
    )
    return docs.select(
        "doc_id",
        F.md5(norm_expr(F.col("text"), fold=ASCII_FOLD)).alias("fp"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.size(sh).alias("n_shingles"),
        alpha_ppm.alias("alpha_ppm"),
    )


def q_lang_guess(spark, sf_dir):
    """Stopword-ratio language ID heuristic."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"), fold=ASCII_FOLD)
    hits = {
        lang: F.size(F.filter(toks, lambda t: F.array_contains(F.array(*[F.lit(w) for w in ws]), t)))
        for lang, ws in STOPWORDS.items()
    }
    n = F.size(toks)
    guess = (
        F.when((n == 0) | (F.greatest(*hits.values()) == 0), F.lit("und"))
        .when((hits["fr"] >= hits["es"]) & (hits["fr"] >= hits["en"]), F.lit("fr"))
        .when(hits["es"] >= hits["en"], F.lit("es"))
        .otherwise(F.lit("en"))
    )
    return docs.select("doc_id", guess.alias("lang_guess"))


def q_token_counts(spark, sf_dir):
    """Text-analysis: token counting two ways — whitespace tokens and a
    BPE-ish regex segmentation (letter runs / digit runs / single
    punctuation marks, the GPT-2-pattern skeleton) — all JVM-side
    regexp_extract_all, zero Python. The per-doc token count is THE
    pre-training-cost denominator at 100 TB, so it must stream in
    whole-stage codegen."""
    docs = _t(spark, sf_dir, "documents")
    bpe = F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)")
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    return docs.select(
        "doc_id",
        F.size(ws).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).alias("n_bpe_distinct"),
        (F.length("text") - F.length(F.regexp_replace("text", r"[^\x20-\x7E]", "")))
        .alias("n_non_printable"),
    )


def q_quality_score(spark, sf_dir):
    """Text-analysis: web-text quality heuristics (the Gopher-rule-style
    pre-training filter battery) as pure JVM expressions — token count,
    mean token length, digit ratio, stopword ratio, and the resulting
    keep/drop gate. Integer ppm (div) encodings keep the cross-engine hash
    exact; NULL ratios on empty docs."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"), fold=ASCII_FOLD)
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    base = docs.select(
        "doc_id",
        F.length("text").alias("_chars"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long").alias("_digits"),
        F.size(toks).alias("n_tokens"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).alias("_tok_chars"),
        F.size(F.filter(toks, lambda t: F.array_contains(en, t))).cast("long").alias("_stop"),
    )
    scored = base.select(
        "doc_id",
        "n_tokens",
        F.expr("CASE WHEN n_tokens > 0 THEN (_tok_chars * 1000000) div n_tokens END")
        .alias("mean_token_len_ppm"),
        F.expr("CASE WHEN _chars > 0 THEN (_digits * 1000000) div _chars END")
        .alias("digit_ppm"),
        F.expr("CASE WHEN n_tokens > 0 THEN (_stop * 1000000) div n_tokens END")
        .alias("stopword_ppm"),
    )
    return scored.withColumn(
        "quality_ok",
        F.coalesce(
            (F.col("n_tokens") >= 50)
            & (F.col("n_tokens") <= 100_000)
            & (F.col("mean_token_len_ppm") >= 3_000_000)
            & (F.col("mean_token_len_ppm") <= 10_000_000)
            & (F.col("digit_ppm") <= 200_000),
            F.lit(False),
        ),
    )


def q_token_jaccard_pairs(spark, sf_dir):
    """P4/P5 normalized-equality generalized: exhaustive unigram-set Jaccard
    via inverted-index join."""
    return jaccard_pairs(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text",
        threshold=0.8, shingle_k=1,
    ).select("src", "dst", "jaccard_ppm")


def q_shingle_jaccard_pairs(spark, sf_dir):
    """3-shingle exhaustive Jaccard (the verification-side semantics)."""
    return jaccard_pairs(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text",
        threshold=CFG.jaccard_threshold, shingle_k=CFG.shingle_k,
    ).select("src", "dst", "jaccard_ppm")


def q_minhash_lsh_pairs(spark, sf_dir):
    """Engine 1 end-to-end: MinHash 128 perms → 32-band LSH → exact verify.
    Oracle = exhaustive shingle Jaccard (LSH recall at J>=0.8 is ~1-1e-28;
    equality IS the test)."""
    return _lsh_verified_pairs(spark, sf_dir).select("src", "dst", "jaccard_ppm")


def q_dup_clusters_cc(spark, sf_dir):
    """G3: connected components over verified dup edges (exact transitive
    closure; reference bounds it at 5 hops, documentsManager.js:188-190)."""
    return _cc_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))


def q_cluster_chains(spark, sf_dir):
    """G4/A3/A4: per-cluster deterministic chain + sorted sources + size —
    the pipeline's uncapped cluster aggregate over the CC labels."""
    corpus = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("url"), "source")
    clusters = cluster_table(_cc_labels(spark, sf_dir), corpus, CFG.salt_buckets,
                             max_members=None)
    return clusters.filter("is_duplicate").select(
        "cluster_id", "chain", F.concat_ws(",", "sources").alias("sources"), "size")


def q_simhash_values(spark, sf_dir):
    """Engine 2 signature parity: 60-bit simhash per doc, bit-exact."""
    return with_simhash(_t(spark, sf_dir, "documents"), CFG, id_col="doc_id").filter(
        F.col("simhash").isNotNull()
    ).select(F.col("doc").alias("doc_id"), "simhash")


def q_simhash_hamming_pairs(spark, sf_dir):
    """Engine 2: multi-block blocking join + Hamming verify (<= 3)."""
    sigs = with_simhash(_t(spark, sf_dir, "documents"), CFG, id_col="doc_id")
    return hamming_pairs(sigs, CFG)


def q_rule_based_pairs(spark, sf_dir):
    """P1-P11: config-driven named-rule disjunction with provenance."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"), fold=ASCII_FOLD)
    derived = {
        "fp": F.md5(norm_expr(F.col("text"), fold=ASCII_FOLD)),
        "tok8": F.concat_ws(" ", F.slice(toks, 1, 8)),
        "tok12": F.concat_ws(" ", F.slice(toks, 1, 12)),
        "lang": F.col("lang"),
    }
    rules = [
        Rule("1ID:fingerprint", keys=("fp",), non_empty=("text",)),
        Rule("2Collation:lang+tok8", keys=("lang", "tok8"), non_empty=("text", "lang")),
        Rule("3Collation:tok12", keys=("tok12",), non_empty=("text",)),
    ]
    pairs = rule_pairs(docs, rules, derived, id_col="doc_id")
    return pairs.select("src", "dst", F.concat_ws(",", F.col("rules")).alias("rules"))


def q_rule_scenario_pairs(spark, sf_dir):
    """P2/P5/P6/P7/P8/P9/P14: the full rule-config surface in one query —
    genre scenario dispatch + genre guard, an OR-alternative rule
    (fp_head | fp_tail), an array-overlap rule (prefix shingles) with
    candidate-side is_empty (no digits), and quality-flag gating (records
    with n_chars % 7 == 0 have their `lang` field flagged as ignored)."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"), fold=ASCII_FOLD)
    head10 = F.slice(toks, 1, 10)
    sh_head = F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(head10) - 3, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(head10, i + 1, 3)),
            ),
            lambda s: s != "",
        )
    )
    derived = {
        "genre": F.col("lang"),
        "fp": F.md5(norm_expr(F.col("text"), fold=ASCII_FOLD)),
        "fp_head": F.md5(F.concat_ws(" ", F.slice(toks, 1, 12))),
        "fp_tail": F.md5(
            F.concat_ws(" ", F.slice(toks, F.greatest(F.size(toks) - 11, F.lit(1)), 12))
        ),
        "sh_head": sh_head,
        "digits": F.regexp_replace(F.col("text"), "[^0-9]", ""),
        "flags": F.when(
            F.pmod(F.col("n_chars"), F.lit(7)) == 0, F.array(F.lit("lang"))
        ).otherwise(F.array().cast("array<string>")),
    }
    rules = [
        Rule("1ID:head|tail", keys=(("fp_head", "fp_tail"),),
             non_empty=("text", "lang"), genres=("en", "es")),
        Rule("2Collation:prefix_shingles", array_keys=("sh_head",),
             non_empty=("text",), is_empty=("digits",), genres=("en", "fr")),
        Rule("3ID:fingerprint", keys=("fp",), non_empty=("text",)),
    ]
    pairs = rule_pairs(docs, rules, derived, id_col="doc_id",
                       genre_col="genre", flags_col="flags")
    return pairs.select("src", "dst", F.concat_ws(",", F.col("rules")).alias("rules"))


def q_containment_pairs(spark, sf_dir):
    """Engine 3: full-document token-sequence containment."""
    return containment_pairs(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text",
        min_tokens=CFG.substring_min_tokens, shingle_k=3, fold=ASCII_FOLD,
    )


def q_suffix_window_pairs(spark, sf_dir):
    """Engine 3b: duplicated-passage detection — pairs sharing any exact
    30-token window, with the count of shared distinct windows. Spark keys
    windows by xxhash64; the oracle joins on the window strings themselves
    (equal barring 2^-64 hash collisions)."""
    from co_deduplicate_spark.operators.substring import suffix_window_pairs

    return suffix_window_pairs(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text",
        window_tokens=30,
    )


def q_session_predicates(spark, sf_dir):
    """A9 all four session-existence predicates over a two-session edge
    labelling (edges stamped s0/s1 by parity of src+dst; current = s0).
    Transitive members carry no session and count as other-session — the
    reference's JS `!==` semantics on an absent field (helpers.js:120-149)."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        "source", F.lit("s0").alias("session"),
    )
    verified = _lsh_verified_pairs(spark, sf_dir)
    edges = verified.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
        F.array(F.lit("minhash-lsh")).alias("rules"),
        F.when(F.pmod(F.col("src") + F.col("dst"), F.lit(2)) == 0, F.lit("s0"))
        .otherwise(F.lit("s1")).alias("session"),
    )
    labels = cluster_labels_stage(edges, corpus, CFG)[0]
    view = with_session_predicates(business_view(corpus, labels, edges), "s0")
    return view.select(
        F.col("url").alias("doc_id"),
        F.size("duplicates").alias("n_duplicates"),
        "hasDuplicateFromOtherSession",
        "hasOwnDuplicateFromOtherSession",
        "hasTransDuplicateFromOtherSession",
    )


def q_business_view_enriched(spark, sf_dir):
    """S3/S8/G4 + A9/A10 + S7: the reference's final per-document state —
    business view (chain, sources, rules provenance, isDuplicate,
    hasTransDuplicate) computed from LSH-verified edges + CC, stamped with
    S7 ingest defaults, PERSISTED through the keyed write-back table
    (sources/upsert.py MERGE semantics) and read back. Doc ids are treated
    as strings end-to-end (CC orders lexicographically; the oracle mirrors
    with VARCHAR least/min)."""
    from co_deduplicate_spark.sources.upsert import UpsertTable, ingest_defaults

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        "source", F.lit("batch-0").alias("session"),
    )
    edges = _lsh_verified_pairs(spark, sf_dir).select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
        F.array(F.lit("minhash-lsh")).alias("rules"),
        F.lit("batch-0").alias("session"),
    )
    labels = cluster_labels_stage(edges, corpus, CFG)[0]
    view = business_view(corpus, labels, edges)
    n_direct = F.size(F.filter(F.col("duplicates"), lambda d: F.size(d["rules"]) > 0))
    flat = view.select(
        "url",
        "cluster_id",
        "sourceUidChain",
        F.concat_ws(",", F.col("sources")).alias("sources"),
        F.concat_ws(",", F.col("duplicateRules")).alias("duplicateRules"),
        "isDuplicate",
        "hasTransDuplicate",
        n_direct.alias("n_direct"),
    )
    # S7 stamps (fixed literal so the run is deterministic); the stamped
    # columns are persisted but not part of the compare projection
    flat = ingest_defaults(flat, uid_col="url", source_col=None, now="2024-01-01 00:00:00")
    tbl = UpsertTable(spark, _scratch(sf_dir, "co_dedup_enriched"), key="url")
    tbl.drop()
    out = tbl.upsert(flat)
    return out.select(
        F.col("url").alias("doc_id"), "cluster_id", "sourceUidChain", "sources",
        "duplicateRules", "isDuplicate", "hasTransDuplicate", "n_direct",
    )


def q_incremental_session_merge(spark, sf_dir):
    """G2/G4/G5 eviction + merge semantics (streaming/incremental.py ≙
    helpers/deduplicates/helpers.js:51-96 + painless 191-196), end-to-end
    against a recursive-CTE DuckDB mirror.

    Deterministic two-session fixture derived from `documents`: session s0
    indexed docs with doc_id % 3 != 0. Its stored edge set is (a) the
    exhaustive shingle-Jaccard pairs among old docs, all rule-carrying,
    plus (b) planted 3-chains d—(d+3)—(d+6) for anchors d % 25 == 13 (all
    three same residue mod 3, hence all old) where the TAIL edge carries
    NO rules — the reference's transitive adjacency entries (painless
    198-211). Session s1 crawls the % 3 == 0 docs. The merge must (a) add
    verified edges touching new docs, (b) keep old rule-carrying edges as
    connectivity, (c) EVICT members whose only connectivity was an
    other-session rule-less edge (at sf0.01 anchor 413 is touched by new
    doc 45, so 419 is evicted to a singleton — label-visibly), and
    (d) leave untouched components' labels bit-identical. Output: every
    doc's final (doc_id, cluster_id).

    The merge runs on the DELTA-SIGNATURE path: the old session's
    persisted signature table is passed in and the MinHash kernel touches
    only the new docs (incremental_update old_signatures) — so the graded
    oracle row covers the O(new + affected) plan, not the full-recompute
    fallback. tests/test_streaming_incremental.py proves the kernel really
    skips old urls (poisoned-signature passthrough)."""
    from co_deduplicate_spark.streaming.incremental import incremental_update

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0).select(
        F.col("doc_id").alias("url"), "text"
    )
    new = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("url"), "text"
    )
    old_pairs = jaccard_pairs(
        old, id_col="url", text_col="text",
        threshold=CFG.jaccard_threshold, shingle_k=CFG.shingle_k,
    )
    ids = docs.select(F.col("doc_id").alias("id"))
    anchors = (
        ids.filter((F.col("id") % 25 == 13) & (F.col("id") % 3 != 0))
        .join(ids.select((F.col("id") - 3).alias("id")), "id", "left_semi")
        .join(ids.select((F.col("id") - 6).alias("id")), "id", "left_semi")
        .select(F.col("id").alias("d"))
    )
    planted = (
        anchors.select(
            F.col("d").alias("src"), (F.col("d") + 3).alias("dst"),
            F.array(F.lit("chain-rule")).alias("rules"),
        )
        .unionByName(
            anchors.select(
                (F.col("d") + 3).alias("src"), (F.col("d") + 6).alias("dst"),
                F.array().cast("array<string>").alias("rules"),
            )
        )
    )
    # r6 (guide §5): the fixture's "previous-session state" (edges, labels,
    # signatures) is handed to incremental_update as live plans; its
    # consumers reference each 2-4× (semi/anti splits, both band-join
    # sides), which re-executed the exhaustive jaccard fixture and the old
    # MinHash kernel per consumer. In production these are stored-table
    # scans — materialize once to match (within-query localCheckpoint, no
    # cross-run state). Measured: 13.2 → 8.5 s at sf0.1 from this change
    # alone (6.20 s in the end-of-round battery with the other r6
    # changes); executed plans show the update reading ExistingRDD state,
    # as on the production path.
    old_edges = (
        old_pairs.select("src", "dst", F.array(F.lit("seed-rule")).alias("rules"))
        .unionByName(planted)
        .withColumn("session", F.lit("s0"))
    ).localCheckpoint()
    old_labels = cluster_labels_stage(old_edges, old, CFG)[0].localCheckpoint()
    old_sigs = with_minhash(old, CFG, id_col="url", text_col="text").localCheckpoint()
    out = incremental_update(old, old_edges, old_labels, new, CFG,
                             current_session="s1", old_signatures=old_sigs)
    return out["labels"].select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def q_pipeline_multi_engine_edges(spark, sf_dir):
    """The pipeline's MIXED-ENGINE provenance union graded end-to-end
    (plans/pipeline.py stage 3): documents are wrapped in deterministic
    html boilerplate JVM-side, run through ``run_pipeline(engines=
    ("minhash", "simhash", "window"))`` — real extraction, signatures,
    per-engine candidates + verify, and the per-pair sorted rule union
    (P11/A5, the batch analogue of `minimum_should_match:1` +
    `matched_queries`, deduplicateQueryBuilder.js:56-67,
    documentsManager.js:292-298) — and the resulting candidate_edges are
    compared against a DuckDB mirror that unions the three engines'
    exhaustive pair sets and sorts rules per pair. Urls are zero-padded so
    lexicographic src<dst agrees with the oracle's numeric pairing; the
    window engine's in-pipeline ``max_df`` cap (2000) cannot bind at the
    graded scale (500 docs), so the uncapped oracle is exact."""
    import shutil

    from co_deduplicate_spark.plans.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents")
    esc = lambda p: F.replace(  # noqa: E731 — html-escape &, <, > (order matters)
        F.replace(F.replace(p, F.lit("&"), F.lit("&amp;")),
                  F.lit("<"), F.lit("&lt;")),
        F.lit(">"), F.lit("&gt;"))
    paras = F.array_join(
        F.transform(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n\n", -1),
            lambda p: F.concat(F.lit("<p>"), esc(p), F.lit("</p>")),
        ),
        "",
    )
    pages = docs.select(
        F.concat(F.lit("https://docs.example.org/d/"),
                 F.lpad(F.col("doc_id").cast("string"), 7, "0")).alias("url"),
        F.to_timestamp(F.lit("2024-01-15 00:00:00")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<main>"), paras, F.lit("</main>")), "utf-8")
        .alias("html"),
        "lang",
    )
    wk = _scratch(sf_dir, "pipe_multi")
    shutil.rmtree(wk, ignore_errors=True)
    out = run_pipeline(spark, pages, wk, CFG,
                       engines=("minhash", "simhash", "window"))
    return out["candidate_edges"].select(
        "src", "dst", F.concat_ws(",", F.col("rules")).alias("rules")
    )


def q_do_the_job_arrival(spark, sf_dir):
    """The ONLINE record-at-a-time path (streaming/incremental.py
    do_the_job ≙ the reference's single public API doTheJob,
    /root/reference/index.js:9-24) oracle-graded end-to-end: dedup state
    is bootstrapped from `documents` via run_incremental_session (urls
    'u<doc_id>'), then ONE record arrives through do_the_job carrying doc
    45's exact text. Its reported duplicates — discovered on the delta
    path: stored band table probed by a broadcast of the single record's
    bands — must equal doc 45 itself (J = 1) plus every doc whose
    shingle-Jaccard with doc 45 meets the threshold, each stamped with
    the minhash-lsh rule (the matched_queries provenance analogue).
    DuckDB mirrors with the exhaustive pair set restricted to the probe
    doc. Probe = doc 45: it has planted near-dup partners at the graded
    scales (487 at sf0.001; 267 and 413 at sf0.01), so the row is
    non-vacuous where values are hash-compared."""
    import shutil

    from co_deduplicate_spark.streaming.incremental import do_the_job, run_incremental_session

    wk = _scratch(sf_dir, "dtj_arrival")
    shutil.rmtree(wk, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"), "text"
    )
    run_incremental_session(spark, wk, docs, CFG, "s0")
    probe_text = (
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") == 45)
        .select("text").collect()[0]["text"]
    )
    r = do_the_job(spark, wk, "arrival-q", probe_text, CFG, session_name="s1")
    return spark.createDataFrame(
        [(d["url"], ",".join(d["rules"])) for d in r["duplicates"]],
        "dup_url string, rules string",
    )


def q_dedup_keep_first(spark, sf_dir):
    """A1/S4: exact-dedup survivor set (min doc_id per normalized content)."""
    from co_deduplicate_spark.operators.exact import dedup_keep_first

    return dedup_keep_first(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text", normalized=True
    ).select("doc_id")


def q_embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs on the IVF scale path:
    candidates share one of each side's 4 nearest of 32 seed centroids
    (equi-join on centroid_id — never an all-pairs product), exact cosine
    filter >= 0.40 after. The oracle mirrors the same bucketing; recall vs
    the exact brute-force pair set (0.80-0.89 measured at sf0.001/sf0.01 —
    the 0.40 threshold is a ~66° angle, inherently hard for bucketing) is
    asserted in tests/test_ann.py."""
    from co_deduplicate_spark.operators.ann import ivf_dup_pairs

    return ivf_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold_micro=400_000,
        n_centroids=32, n_probes=4,
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-10 for query vectors vec_id < 20 (the
    exact baseline the IVF path is measured against)."""
    emb = _t(spark, sf_dir, "embeddings")
    qids = [r["vec_id"] for r in emb.select("vec_id").filter(F.col("vec_id") < 20).collect()]
    return cosine_topk(emb, qids, k=10)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-10 (graded scale path): Arrow-matmul centroid
    assignment, 4-of-32 probe, exact rescoring. Deterministic across
    engines via integer-quantized assignment (operators/ann.py)."""
    from co_deduplicate_spark.operators.ann import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qids = [r["vec_id"] for r in emb.select("vec_id").filter(F.col("vec_id") < 20).collect()]
    return ivf_topk(emb, qids, k=10, n_centroids=32, n_probes=4)


def q_events_top_type(spark, sf_dir):
    """Window/top-k per group: dominant event_type per user.

    r6 (guide §2.3 "aggregate before you shuffle"): the top-1 row is a
    min over structs — ``min(struct(-n, event_type))`` picks exactly the
    (max n, then lexicographically-first type) row the former
    row_number window selected, but as a PARTIALLY-AGGREGATING hash
    aggregate instead of a full per-user sort. Same rows, same values.
    """
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    best = counts.groupBy("user_id").agg(
        F.min(F.struct((-F.col("n")).alias("_neg_n"),
                       F.col("event_type").alias("_t"))).alias("_s")
    )
    return best.select(
        "user_id",
        F.col("_s._t").alias("top_type"),
        (-F.col("_s._neg_n")).alias("n"),
    )


def q_events_sessions(spark, sf_dir):
    """Sessionization: 30-min inactivity gap → session count + events/user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet timestamps arrive as TIMESTAMP_NTZ; session TZ is pinned UTC so
    # the cast preserves wall time and unix_millis matches DuckDB epoch_ms.
    tms = F.unix_millis(F.col("ts").cast("timestamp"))
    gap = tms - F.lag(tms).over(w)
    new_s = F.when(gap.isNull() | (gap > 1_800_000), F.lit(1)).otherwise(F.lit(0))
    sess = ev.withColumn(
        "session_id", F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


def q_lineitem_pricing(spark, sf_dir):
    """TPC-H-Q1-style aggregate, cents-exact (partial aggregation +
    two-column groupBy; the classic map-side-combine shape)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("sum_qty_cents"),
            F.sum(price_c).alias("sum_price_cents"),
            F.sum(disc_c).alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_nation_revenue(spark, sf_dir):
    """Multi-join star query with broadcast dims: revenue per nation."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    disc_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(disc_c).alias("revenue_cents"), F.count(F.lit(1)).alias("n_items"))
    )


def q_ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF top-10 with Lloyd-refined centroids (operators/ann.py::
    kmeans_centroids, 2 iterations): assignment + per-centroid integer
    mean update run as mapInPandas partial aggregation (the corpus is
    never collected), every arithmetic step integer-quantized so the
    DuckDB mirror reproduces the trained centroids — and therefore the
    buckets, candidates, and ranking — bit-for-bit. Measured effect on
    the synthetic embeddings (PLANS.md §14b): recall unchanged vs seed
    centroids, assignment-bucket skew max/mean 1.66 → 1.47; at web scale
    the flatter buckets are the win (candidate volume is Σ bucket²)."""
    from co_deduplicate_spark.operators.ann import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qids = [r["vec_id"] for r in emb.select("vec_id").filter(F.col("vec_id") < 20).collect()]
    return ivf_topk(emb, qids, k=10, n_centroids=32, n_probes=4, kmeans_iters=2)


def q_media_bmp_stats(spark, sf_dir):
    """Multimodal image path under the bit-exact oracle: a deterministic
    7×9 24-bit BMP per document (pixels a closed-form function of doc_id,
    operators/multimodal.py::synth_media_blobs), ENCODED to real BMP bytes
    and DECODED back through the real pure-numpy pixel path
    (image_channel_stats) inside mapInPandas Arrow batches. Output is
    integer-exact per-channel pixel sums; the DuckDB mirror reproduces
    them arithmetically from the pixel formula — proving header parse,
    row stride/padding (7px ⇒ 3 pad bytes/row), bottom-up flip and
    BGR→RGB order against an implementation-independent oracle."""
    from co_deduplicate_spark.operators.multimodal import (
        image_channel_stats,
        synth_media_blobs,
    )

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    media = synth_media_blobs(ids, kind="bmp", width=7, height=9)
    return image_channel_stats(media).select(
        F.col("media_id").alias("doc_id"), "width", "height",
        "sum_r", "sum_g", "sum_b",
    )


def q_media_wav_stats(spark, sf_dir):
    """Multimodal audio path under the bit-exact oracle: deterministic
    mono 16-bit PCM WAV per document (samples s(i) = ((a·13 + 7919·i) mod
    4001) − 2000 over n = 64 + doc_id mod 37 samples, a = doc_id mod
    1009), encoded to real RIFF bytes and decoded back through the real
    chunk-walking PCM path (audio_sample_stats). Output is integer-exact:
    sample count, Σ|sample|, strict sign changes — mirrored in closed
    form by DuckDB over a bounded range cross join."""
    from co_deduplicate_spark.operators.multimodal import (
        audio_sample_stats,
        synth_media_blobs,
    )

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    media = synth_media_blobs(ids, kind="wav")
    return audio_sample_stats(media).select(
        F.col("media_id").alias("doc_id"), "n_samples", "rate",
        "sum_abs", "n_sign_change",
    )


def q_media_video_frames(spark, sf_dir):
    """Multimodal video path under the bit-exact oracle: a deterministic
    concatenated-BMP container per document (3 + doc_id mod 5 frames,
    frame f adds 59·f to the pixel formula), decoded by walking the
    container via each BMP header's declared file size, sampling every
    2nd frame (frame-sample step of a media pipeline), emitting
    integer-exact per-frame channel sums. The DuckDB mirror reproduces
    frames and sums arithmetically — container walking, per-frame decode,
    and the sampling stride are all proven cross-engine."""
    from co_deduplicate_spark.operators.multimodal import (
        frame_sample_stats,
        synth_media_blobs,
    )

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    media = synth_media_blobs(ids, kind="video", width=7, height=9)
    return frame_sample_stats(media, every_n=2).select(
        F.col("media_id").alias("doc_id"), "frame_idx", "n_frames",
        "width", "height", "sum_r", "sum_g", "sum_b",
    )


def q_upsert_lifecycle(spark, sf_dir):
    """S2/S3/S4/S5/S6/S8 under the oracle: the full write-path lifecycle —
    createIndiceNx, bulkCreate with per-row validators (rows failing any
    validator land in the rejected side-channel, documentsManager.js:
    91-127), deleteById for every url whose doc_id ≡ 0 (mod 7)
    (documentsManager.js deleteById), then an updateByQuery-style MERGE
    (+1000 n_chars for lang='en' rows, the Painless-script analogue) —
    executed against the hash-bucketed snapshot UpsertTable and read back.
    The DuckDB mirror states the final table declaratively; the delete id
    list is driver-built from a deterministic range because S2's contract
    is an explicit id list from the caller, not a predicate."""
    from co_deduplicate_spark.sources.upsert import UpsertTable, bulk_create

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text", "lang", "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    scratch = _scratch(sf_dir, "co_dedup_lifecycle")
    tbl = UpsertTable(spark, scratch, key="url")
    tbl.drop()  # S6 deleteIndiceIx; next write is S5 createIndiceNx
    bulk_create(
        tbl, docs,
        validators={
            "text-too-short": F.length("text") >= 100,
            "lang-missing": F.col("lang").isNotNull() & (F.length("lang") == 2),
        },
        rejected_dir=f"{scratch}_rejected",
    )
    max_id = docs.agg(F.max(F.col("url").cast("long"))).first()[0]
    tbl.delete_by_id([str(i) for i in range(0, int(max_id) + 1, 7)])
    updates = tbl.read().filter(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") + F.lit(1000)
    )
    out = tbl.upsert(updates)
    return out.select(
        F.col("url").alias("doc_id"), "lang", "source", "n_chars",
    )


def q_stream_dedup_keys(spark, sf_dir):
    """Streaming exact-tier ingest dedup (streaming/stream_dedup.py ≙ the
    reference's per-record doTheJob loop, index.js:9-24) under the oracle:
    documents land in a staging dir with an event-time column, a real
    Structured-Streaming query (readStream → fingerprint →
    dropDuplicatesWithinWatermark → memory sink, availableNow trigger)
    dedups them with bounded state, and the surviving fingerprint set —
    deterministic even though WHICH row survives per key is not — is
    compared to DuckDB's DISTINCT md5(normalized text). All events share
    one watermark window here, so the stream's output is exactly one row
    per distinct fingerprint."""
    import os
    import shutil

    from co_deduplicate_spark.streaming.stream_dedup import stream_exact_dedup

    scratch = _scratch(sf_dir, "co_dedup_stream")
    landing = f"{scratch}/landing"
    # r6 (guide §6): land only the columns the stream consumes (fp derives
    # from text; warc_ts drives the watermark) — the previous landing wrote
    # every document column, doubling the fixture's write+scan bytes.
    # Output (distinct fp set) is unchanged.
    docs = _t(spark, sf_dir, "documents").select(
        "text",
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") % 60).alias("warc_ts"),
    )
    docs.write.mode("overwrite").parquet(landing)
    schema = spark.read.parquet(landing).schema
    deduped = stream_exact_dedup(spark, landing, schema, watermark="1 hour")
    # per-process names/dirs (_scratch), cleaned before start — repeated
    # invocations (bench best-of-N) must not accumulate checkpoints on
    # tmpfs, and concurrent processes never share a checkpoint
    qname = f"stream_dedup_{os.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    ckpt = f"{scratch}/ckpt"
    shutil.rmtree(ckpt, ignore_errors=True)
    if os.path.exists(ckpt):
        # a surviving stale checkpoint would make availableNow treat the
        # landing files as already processed — empty result, no error.
        # Fail loudly instead.
        raise RuntimeError(f"could not clear stream checkpoint {ckpt}")
    spark.catalog.dropTempView(qname)
    q = (
        deduped.select("fp").writeStream.format("memory").queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname).select("fp").distinct()


def q_stream_host_sessions(spark, sf_dir):
    """Custom stateful streaming operator under the oracle
    (streaming/stateful.py::stream_host_sessions, applyInPandasWithState):
    a deterministic per-host page stream derived from `documents` — host
    h{doc_id%20}, event time base + (doc_id div 20)·60s with a 2-hour jump
    every 5 in-host events, staggered per host by (doc_id%20)·1h — flows
    through readStream → groupBy(host) → applyInPandasWithState (gap =
    30 min) → memory sink (availableNow). The landing dir is ONE file
    (single data micro-batch): every burst boundary closes a session
    in-stream ("gap"). The watermark delay is FINITE (1 h), so after the
    data batch the watermark settles at global_max_ts − 1h and the
    availableNow drain batch fires event-time TIMEOUTS for every host
    whose open tail has last_ts + gap below it — with the per-host
    stagger that is hosts 0..17 ("timeout" rows), while hosts 18-19's
    tails stay open in state. BOTH ``closed_by`` paths are therefore
    oracle-graded, deterministically (no wall-clock involved: event-time
    timeout only). The DuckDB mirror is gaps-and-islands SQL over the
    same synthesized events, with each host's last session kept iff its
    end + gap < max(all events) − 1h, labeled 'timeout'."""
    import os

    from co_deduplicate_spark.streaming.stateful import stream_host_sessions

    scratch = _scratch(sf_dir, "co_dedup_sessions")
    landing = f"{scratch}/landing"
    docs = _t(spark, sf_dir, "documents")
    ev = docs.select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".example.com/p"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200)
            + F.expr("doc_id div 20") * 60
            + F.expr("(doc_id div 20) div 5") * 7200
            + (F.col("doc_id") % 20) * 3600
        ).alias("warc_ts"),
    )
    ev.repartition(1).write.mode("overwrite").parquet(landing)
    schema = spark.read.parquet(landing).schema
    sessions = stream_host_sessions(
        spark, landing, schema, gap="30 minutes", watermark="1 hour"
    )
    qname = f"host_sessions_{os.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    ckpt = f"{scratch}/ckpt"
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    spark.catalog.dropTempView(qname)
    q = (
        sessions.writeStream.format("memory").queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname).select(
        "host", "session_seq", "n_pages",
        F.unix_seconds(F.col("start_ts")).alias("start_s"),
        F.unix_seconds(F.col("end_ts")).alias("end_s"),
        "closed_by",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash-LSH dedup clusters with chains on sf0.001."""
    return q_cluster_chains(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dup_clusters": q_exact_dup_clusters,
        "doc_profile": q_doc_profile,
        "lang_guess": q_lang_guess,
        "token_counts": q_token_counts,
        "quality_score": q_quality_score,
        "token_jaccard_pairs": q_token_jaccard_pairs,
        "shingle_jaccard_pairs": q_shingle_jaccard_pairs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dup_clusters_cc": q_dup_clusters_cc,
        "cluster_chains": q_cluster_chains,
        "simhash_values": q_simhash_values,
        "simhash_hamming_pairs": q_simhash_hamming_pairs,
        "rule_based_pairs": q_rule_based_pairs,
        "rule_scenario_pairs": q_rule_scenario_pairs,
        "containment_pairs": q_containment_pairs,
        "suffix_window_pairs": q_suffix_window_pairs,
        "session_predicates": q_session_predicates,
        "incremental_session_merge": q_incremental_session_merge,
        "pipeline_multi_engine_edges": q_pipeline_multi_engine_edges,
        "do_the_job_arrival": q_do_the_job_arrival,
        "business_view_enriched": q_business_view_enriched,
        "dedup_keep_first": q_dedup_keep_first,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "events_top_type": q_events_top_type,
        "events_sessions": q_events_sessions,
        "lineitem_pricing": q_lineitem_pricing,
        "nation_revenue": q_nation_revenue,
        "ann_ivf_kmeans_topk": q_ann_ivf_kmeans_topk,
        "media_bmp_stats": q_media_bmp_stats,
        "media_wav_stats": q_media_wav_stats,
        "media_video_frames": q_media_video_frames,
        "upsert_lifecycle": q_upsert_lifecycle,
        "stream_dedup_keys": q_stream_dedup_keys,
        "stream_host_sessions": q_stream_host_sessions,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # planted mirrors (doc_id % 10 == 0 → +1,000,000 / source='mirror')
        # synthesized identically to the Spark side — non-vacuous at all sf
        "exact_dup_clusters": """
            WITH corpus AS (
              SELECT doc_id, text, source FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text, 'mirror' FROM documents
              WHERE doc_id % 10 = 0
            )
            SELECT md5(text) AS content_key,
                   count(*) AS cluster_size,
                   '!' || array_to_string(list_sort(list_distinct(list(doc_id::VARCHAR))), '!') || '!' AS chain,
                   array_to_string(list_sort(list_distinct(list(source))), ',') AS sources
            FROM corpus GROUP BY md5(text) HAVING count(*) >= 2
        """,
        "doc_profile": f"""
            WITH toks AS ({_SQL_TOKS}),
            sh AS ({_SQL_SHINGLES3})
            SELECT d.doc_id,
                   md5({_SQL_NORM}) AS fp,
                   len(t.ts) AS n_tokens,
                   len(list_distinct(t.ts)) AS n_distinct_tokens,
                   len(s.sh) AS n_shingles,
                   CASE WHEN length(d.text) > 0
                        THEN (length(regexp_replace(d.text, '[^A-Za-z]', '', 'g'))::BIGINT * 1000000)
                             // length(d.text)
                        ELSE NULL END AS alpha_ppm
            FROM documents d JOIN toks t ON t.doc_id = d.doc_id JOIN sh s ON s.doc_id = d.doc_id
        """,
        "lang_guess": f"""
            WITH toks AS ({_SQL_TOKS}),
            hits AS (
              SELECT doc_id, len(ts) AS n,
                     len(list_filter(ts, t -> list_contains({STOPWORDS['en']!r}, t))) AS en,
                     len(list_filter(ts, t -> list_contains({STOPWORDS['es']!r}, t))) AS es,
                     len(list_filter(ts, t -> list_contains({STOPWORDS['fr']!r}, t))) AS fr
              FROM toks)
            SELECT doc_id,
                   CASE WHEN n = 0 OR greatest(en, es, fr) = 0 THEN 'und'
                        WHEN fr >= es AND fr >= en THEN 'fr'
                        WHEN es >= en THEN 'es'
                        ELSE 'en' END AS lang_guess
            FROM hits
        """,
        "token_counts": r"""
            WITH b AS (
              SELECT doc_id, text,
                     regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS bpe
              FROM documents)
            SELECT doc_id,
                   len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS n_ws_tokens,
                   len(bpe) AS n_bpe_tokens,
                   len(list_distinct(bpe)) AS n_bpe_distinct,
                   (length(text) - length(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))) AS n_non_printable
            FROM b
        """,
        "quality_score": f"""
            WITH toks AS ({_SQL_TOKS}),
            base AS (
              SELECT d.doc_id,
                     length(d.text) AS chars,
                     length(regexp_replace(d.text, '[^0-9]', '', 'g'))::BIGINT AS digits,
                     len(t.ts) AS n_tokens,
                     list_sum(list_transform(t.ts, x -> length(x)))::BIGINT AS tok_chars,
                     len(list_filter(t.ts, x -> list_contains({STOPWORDS['en']!r}, x)))::BIGINT AS stop
              FROM documents d JOIN toks t ON t.doc_id = d.doc_id),
            scored AS (
              SELECT doc_id, n_tokens,
                     CASE WHEN n_tokens > 0 THEN (tok_chars * 1000000) // n_tokens END AS mean_token_len_ppm,
                     CASE WHEN chars > 0 THEN (digits * 1000000) // chars END AS digit_ppm,
                     CASE WHEN n_tokens > 0 THEN (stop * 1000000) // n_tokens END AS stopword_ppm
              FROM base)
            SELECT *,
                   coalesce(n_tokens >= 50 AND n_tokens <= 100000
                            AND mean_token_len_ppm BETWEEN 3000000 AND 10000000
                            AND digit_ppm <= 200000, false) AS quality_ok
            FROM scored
        """,
        "token_jaccard_pairs": f"""
            WITH toks AS ({_SQL_TOKS}),
            dt AS (SELECT doc_id, list_distinct(ts) AS ts FROM toks),
            sizes AS (SELECT doc_id, len(ts) AS n FROM dt),
            post AS (SELECT doc_id, unnest(ts) AS token FROM dt),
            ipairs AS (
              SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS cnt
              FROM post a JOIN post b ON a.token = b.token AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT src, dst, (cnt * 1000000) // (sa.n + sb.n - cnt) AS jaccard_ppm
            FROM ipairs JOIN sizes sa ON sa.doc_id = src JOIN sizes sb ON sb.doc_id = dst
            WHERE (cnt * 1000000) // (sa.n + sb.n - cnt) >= {JACCARD_PPM}
        """,
        "shingle_jaccard_pairs": _SQL_SHINGLE_PAIRS,
        "minhash_lsh_pairs": _SQL_SHINGLE_PAIRS,
        "dup_clusters_cc": _SQL_CC,
        "cluster_chains": f"""
            WITH cc AS ({_SQL_CC})
            SELECT cc.cluster_id,
                   '!' || array_to_string(list_sort(list_distinct(list(cc.doc_id))), '!') || '!' AS chain,
                   array_to_string(list_sort(list_distinct(list(d.source))), ',') AS sources,
                   count(*) AS size
            FROM cc JOIN documents d ON d.doc_id = cc.doc_id
            GROUP BY cc.cluster_id HAVING count(*) >= 2
        """,
        "simhash_values": f"WITH {_SQL_SIMHASH} SELECT doc_id, simhash FROM simhashes",
        "simhash_hamming_pairs": f"""
            WITH {_SQL_SIMHASH}
            SELECT a.doc_id AS src, b.doc_id AS dst,
                   bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
            FROM simhashes a JOIN simhashes b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {CFG.hamming_max}
        """,
        "rule_based_pairs": f"""
            WITH toks AS ({_SQL_TOKS}),
            base AS (
              SELECT d.doc_id, d.lang, d.text,
                     md5({_SQL_NORM}) AS fp,
                     array_to_string(t.ts[1:8], ' ') AS tok8,
                     array_to_string(t.ts[1:12], ' ') AS tok12
              FROM documents d JOIN toks t ON t.doc_id = d.doc_id),
            r1 AS (
              SELECT a.doc_id AS src, b.doc_id AS dst, '1ID:fingerprint' AS rule
              FROM base a JOIN base b ON a.fp = b.fp AND a.doc_id < b.doc_id
              WHERE length(trim(a.text)) > 0 AND length(trim(b.text)) > 0
                AND length(a.fp) > 0 AND length(b.fp) > 0),
            r2 AS (
              SELECT a.doc_id AS src, b.doc_id AS dst, '2Collation:lang+tok8' AS rule
              FROM base a JOIN base b ON a.lang = b.lang AND a.tok8 = b.tok8 AND a.doc_id < b.doc_id
              WHERE length(trim(a.text)) > 0 AND length(trim(b.text)) > 0
                AND length(trim(a.lang)) > 0 AND length(trim(b.lang)) > 0
                AND length(a.tok8) > 0 AND length(b.tok8) > 0),
            r3 AS (
              SELECT a.doc_id AS src, b.doc_id AS dst, '3Collation:tok12' AS rule
              FROM base a JOIN base b ON a.tok12 = b.tok12 AND a.doc_id < b.doc_id
              WHERE length(trim(a.text)) > 0 AND length(trim(b.text)) > 0
                AND length(a.tok12) > 0 AND length(b.tok12) > 0),
            u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3)
            SELECT src, dst, string_agg(DISTINCT rule, ',' ORDER BY rule) AS rules
            FROM u GROUP BY src, dst
        """,
        "rule_scenario_pairs": f"""
            WITH toks AS ({_SQL_TOKS}),
            base AS (
              SELECT d.doc_id AS doc, d.lang AS genre, d.n_chars,
                     md5({_SQL_NORM}) AS fp,
                     md5(array_to_string(t.ts[1:12], ' ')) AS fp_head,
                     md5(array_to_string(
                       t.ts[greatest(len(t.ts) - 11, 1):greatest(len(t.ts) - 11, 1) + 11],
                       ' ')) AS fp_tail,
                     list_distinct(list_filter(list_transform(
                       range(0, greatest(len(t.ts[1:10]) - 2, 1)),
                       i -> array_to_string(t.ts[1:10][i+1:i+3], ' ')),
                       s -> s != '')) AS sh_head,
                     regexp_replace(d.text, '[^0-9]', '', 'g') AS digits
              FROM documents d JOIN toks t ON t.doc_id = d.doc_id),
            -- r1: OR-alternative conjunct (P7) + quality-flag gate (P14: the
            -- record whose n_chars % 7 = 0 has `lang` ignored, so at least one
            -- direction must be unflagged) + genre dispatch en/es (P2) + guard (P8)
            r1 AS (
              SELECT least(a.doc, b.doc) AS src, greatest(a.doc, b.doc) AS dst,
                     '1ID:head|tail' AS rule
              FROM base a JOIN base b
                ON a.genre = b.genre AND a.doc < b.doc
               AND (a.fp_head = b.fp_head OR a.fp_tail = b.fp_tail)
              WHERE a.genre IN ('en', 'es')
                AND (a.n_chars % 7 <> 0 OR b.n_chars % 7 <> 0)),
            -- r2: array-overlap key (P5/P6) + candidate-side is_empty (P9:
            -- either direction's candidate must be digit-free) + genre en/fr
            r2 AS (
              SELECT least(a.doc, b.doc) AS src, greatest(a.doc, b.doc) AS dst,
                     '2Collation:prefix_shingles' AS rule
              FROM base a JOIN base b
                ON a.genre = b.genre AND a.doc < b.doc
               AND len(list_intersect(a.sh_head, b.sh_head)) > 0
              WHERE a.genre IN ('en', 'fr')
                AND (a.digits = '' OR b.digits = '')),
            -- r3: plain scalar rule, all genres, still genre-guarded (P8)
            r3 AS (
              SELECT least(a.doc, b.doc) AS src, greatest(a.doc, b.doc) AS dst,
                     '3ID:fingerprint' AS rule
              FROM base a JOIN base b
                ON a.genre = b.genre AND a.fp = b.fp AND a.doc < b.doc),
            u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3)
            SELECT src, dst, string_agg(DISTINCT rule, ',' ORDER BY rule) AS rules
            FROM u GROUP BY src, dst
        """,
        "containment_pairs": f"""
            WITH toks AS ({_SQL_TOKS}),
            seq AS (SELECT doc_id, ts, len(ts) AS n,
                           ' ' || array_to_string(ts, ' ') || ' ' AS tstr FROM toks),
            containers AS (
              SELECT doc_id AS outer_id, tstr AS outer_str,
                     unnest(list_distinct(list_filter(list_transform(
                       range(0, greatest(n - 2, 1)), i -> array_to_string(ts[i+1:i+3], ' ')),
                       s -> s != ''))) AS anchor
              FROM seq),
            inners AS (
              SELECT doc_id AS inner_id, tstr AS inner_str,
                     array_to_string(ts[1:3], ' ') AS anchor
              FROM seq WHERE n >= {CFG.substring_min_tokens})
            SELECT DISTINCT inner_id AS inner, outer_id AS outer
            FROM inners JOIN containers USING (anchor)
            WHERE inner_id != outer_id AND contains(outer_str, inner_str)
        """,
        "suffix_window_pairs": f"""
            WITH toks AS ({_SQL_TOKS}),
            w AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                       range(0, len(ts) - 29),
                       i -> array_to_string(ts[i+1:i+30], ' ')))) AS wkey
              FROM toks WHERE len(ts) >= 30)
            SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS shared_windows
            FROM w a JOIN w b ON a.wkey = b.wkey AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
        # mixed-engine provenance union: the three engines' exhaustive pair
        # sets (shingle-Jaccard >= 0.8 for minhash-LSH-verify, Hamming <= 3
        # over 60-bit simhashes, shared exact 30-token window), each tagged
        # with the pipeline's rule literal, grouped per url pair with the
        # rule list sorted — mirroring run_pipeline's collect_set+array_sort
        "pipeline_multi_engine_edges": f"""
            WITH {_SQL_SIMHASH},
            u AS (
              SELECT doc_id,
                     'https://docs.example.org/d/' || lpad(doc_id::VARCHAR, 7, '0') AS url
              FROM documents),
            w AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                       range(0, len(ts) - 29),
                       i -> array_to_string(ts[i+1:i+30], ' ')))) AS wkey
              FROM toks WHERE len(ts) >= 30),
            ev AS (
              SELECT src, dst,
                     'minhash-lsh:k{CFG.shingle_k}p{CFG.num_perms}b{CFG.lsh_bands}' AS rule
              FROM ({_SQL_SHINGLE_PAIRS})
              UNION ALL
              SELECT a.doc_id AS src, b.doc_id AS dst,
                     'simhash:hd{CFG.hamming_max}b{CFG.simhash_bits}' AS rule
              FROM simhashes a JOIN simhashes b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= {CFG.hamming_max}
              UNION ALL
              SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst,
                     'window:w{CFG.window_tokens}df{CFG.window_max_df}' AS rule
              FROM w a JOIN w b ON a.wkey = b.wkey AND a.doc_id < b.doc_id)
            SELECT least(ua.url, ub.url) AS src,
                   greatest(ua.url, ub.url) AS dst,
                   array_to_string(list_sort(list_distinct(list(rule))), ',') AS rules
            FROM ev JOIN u ua ON ua.doc_id = ev.src JOIN u ub ON ub.doc_id = ev.dst
            GROUP BY 1, 2
        """,
        "session_predicates": f"""
            WITH RECURSIVE pairs AS ({_SQL_SHINGLE_PAIRS}),
            e AS (SELECT src::VARCHAR AS u, dst::VARCHAR AS v,
                         CASE WHEN (src + dst) % 2 = 0 THEN 's0' ELSE 's1' END AS sess
                  FROM pairs),
            sym AS (SELECT u, v, sess FROM e UNION ALL SELECT v, u, sess FROM e),
            symd AS (SELECT DISTINCT u, v FROM sym),
            reach(a, b) AS (
                SELECT u, v FROM symd
              UNION
                SELECT r.a, s.v FROM reach r JOIN symd s ON r.b = s.u),
            comp AS (SELECT a AS doc, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
            alldocs AS (SELECT doc_id::VARCHAR AS doc FROM documents),
            cc AS (SELECT d.doc, coalesce(c.cluster_id, d.doc) AS cluster_id
                   FROM alldocs d LEFT JOIN comp c ON c.doc = d.doc),
            csize AS (SELECT cluster_id, count(*) AS n FROM cc GROUP BY cluster_id),
            deg AS (SELECT u AS doc, count(DISTINCT v) AS n_direct,
                           max(CASE WHEN sess <> 's0' THEN 1 ELSE 0 END) AS own_other
                    FROM sym GROUP BY u)
            SELECT cc.doc AS doc_id,
                   (s.n - 1)::INTEGER AS n_duplicates,
                   (coalesce(g.own_other, 0) = 1
                    OR (s.n - 1) > coalesce(g.n_direct, 0)) AS "hasDuplicateFromOtherSession",
                   (coalesce(g.own_other, 0) = 1) AS "hasOwnDuplicateFromOtherSession",
                   ((s.n - 1) > coalesce(g.n_direct, 0)) AS "hasTransDuplicateFromOtherSession"
            FROM cc JOIN csize s ON s.cluster_id = cc.cluster_id
            LEFT JOIN deg g ON g.doc = cc.doc
        """,
        "business_view_enriched": f"""
            WITH RECURSIVE pairs AS ({_SQL_SHINGLE_PAIRS}),
            e AS (SELECT src::VARCHAR AS u, dst::VARCHAR AS v FROM pairs),
            sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
            reach(a, b) AS (
                SELECT u, v FROM sym
              UNION
                SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u),
            comp AS (SELECT a AS doc, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
            alldocs AS (SELECT doc_id::VARCHAR AS doc, source FROM documents),
            cc AS (SELECT d.doc, coalesce(c.cluster_id, d.doc) AS cluster_id, d.source
                   FROM alldocs d LEFT JOIN comp c ON c.doc = d.doc),
            clus AS (SELECT cluster_id,
                            '!' || array_to_string(list_sort(list(doc)), '!') || '!' AS chain,
                            array_to_string(list_sort(list_distinct(list(source))), ',') AS srcs,
                            count(*) AS csize
                     FROM cc GROUP BY cluster_id),
            deg AS (SELECT u AS doc, count(DISTINCT v) AS n_direct FROM sym GROUP BY u)
            SELECT cc.doc AS doc_id, cc.cluster_id,
                   c.chain AS sourceUidChain, c.srcs AS sources,
                   CASE WHEN coalesce(g.n_direct, 0) > 0 THEN 'minhash-lsh' ELSE '' END
                     AS duplicateRules,
                   (c.csize - 1) > 0 AS isDuplicate,
                   (c.csize - 1) > coalesce(g.n_direct, 0) AS hasTransDuplicate,
                   coalesce(g.n_direct, 0)::INTEGER AS n_direct
            FROM cc JOIN clus c ON c.cluster_id = cc.cluster_id
            LEFT JOIN deg g ON g.doc = cc.doc
        """,
        "dedup_keep_first": f"""
            SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY md5({_SQL_NORM})
        """,
        # mirror of streaming/incremental.py::incremental_update over the
        # deterministic two-session fixture (see q_incremental_session_merge):
        # old CC over ALL s0 edges, merge, session-evidence filter (rules or
        # current session), scoped re-CC, untouched components carried over
        # the online arrival carries doc 45's exact text: its duplicates are
        # doc 45 itself (J = 1) plus the exhaustive shingle-Jaccard matches
        # of doc 45, all under the minhash-lsh rule stamp
        "do_the_job_arrival": f"""
            WITH pairs AS ({_SQL_SHINGLE_PAIRS})
            SELECT 'u' || dst::VARCHAR AS dup_url,
                   'minhash-lsh:k{CFG.shingle_k}' AS rules
            FROM pairs WHERE src = 45
            UNION ALL
            SELECT 'u' || src::VARCHAR, 'minhash-lsh:k{CFG.shingle_k}'
            FROM pairs WHERE dst = 45
            UNION ALL
            SELECT 'u45', 'minhash-lsh:k{CFG.shingle_k}'
        """,
        "incremental_session_merge": f"""
            WITH RECURSIVE pairs AS ({_SQL_SHINGLE_PAIRS}),
            anchors AS (
              SELECT d.doc_id AS d FROM documents d
              JOIN documents m ON m.doc_id = d.doc_id + 3
              JOIN documents e ON e.doc_id = d.doc_id + 6
              WHERE d.doc_id % 25 = 13 AND d.doc_id % 3 <> 0),
            old_edges0 AS (
              SELECT src, dst, 1 AS has_rules
              FROM pairs WHERE src % 3 <> 0 AND dst % 3 <> 0
              UNION ALL SELECT d, d + 3, 1 FROM anchors
              UNION ALL SELECT d + 3, d + 6, 0 FROM anchors),
            old_edges AS (
              SELECT src, dst, max(has_rules) AS has_rules
              FROM old_edges0 GROUP BY src, dst),
            osym AS (SELECT src AS u, dst AS v FROM old_edges
                     UNION SELECT dst, src FROM old_edges),
            oreach(a, b) AS (
                SELECT u, v FROM osym
              UNION
                SELECT r.a, s.v FROM oreach r JOIN osym s ON r.b = s.u),
            ocomp AS (SELECT a AS doc, least(a, min(b)) AS comp FROM oreach GROUP BY a),
            old_docs AS (SELECT doc_id AS doc FROM documents WHERE doc_id % 3 <> 0),
            old_labels AS (SELECT d.doc, coalesce(c.comp, d.doc) AS comp
                           FROM old_docs d LEFT JOIN ocomp c ON c.doc = d.doc),
            new_edges AS (SELECT src, dst FROM pairs WHERE src % 3 = 0 OR dst % 3 = 0),
            all_edges AS (
              SELECT src, dst, max(has_rules) AS has_rules, max(sess) AS sess
              FROM (SELECT src, dst, has_rules, 0 AS sess FROM old_edges
                    UNION ALL
                    SELECT src, dst, 1 AS has_rules, 1 AS sess FROM new_edges)
              GROUP BY src, dst),
            -- explicit DISTINCT wrappers: inside a WITH RECURSIVE clause
            -- DuckDB 1.0 evaluates these plain UNIONs as UNION ALL
            touched AS (SELECT DISTINCT n FROM (
              SELECT src AS n FROM new_edges UNION ALL SELECT dst FROM new_edges)),
            affected AS (SELECT DISTINCT l.comp FROM old_labels l JOIN touched t ON l.doc = t.n),
            scope AS (SELECT DISTINCT n FROM (
              SELECT doc AS n FROM old_labels WHERE comp IN (SELECT comp FROM affected)
              UNION ALL SELECT n FROM touched
              UNION ALL SELECT doc_id FROM documents WHERE doc_id % 3 = 0)),
            live AS (SELECT src, dst FROM all_edges WHERE has_rules = 1 OR sess = 1),
            scoped AS (SELECT DISTINCT src, dst FROM live
                       WHERE src IN (SELECT n FROM scope) OR dst IN (SELECT n FROM scope)),
            ssym AS (SELECT src AS u, dst AS v FROM scoped
                     UNION SELECT dst, src FROM scoped),
            sreach(a, b) AS (
                SELECT u, v FROM ssym
              UNION
                SELECT r.a, s.v FROM sreach r JOIN ssym s ON r.b = s.u),
            scomp AS (SELECT a AS doc, least(a, min(b)) AS comp FROM sreach GROUP BY a),
            relabeled AS (SELECT s.n AS doc, coalesce(c.comp, s.n) AS comp
                          FROM scope s LEFT JOIN scomp c ON c.doc = s.n),
            untouched AS (SELECT doc, comp FROM old_labels
                          WHERE comp NOT IN (SELECT comp FROM affected))
            SELECT doc AS doc_id, comp AS cluster_id FROM untouched
            UNION ALL
            SELECT doc AS doc_id, comp AS cluster_id FROM relabeled
        """,
        "embedding_dup_pairs": f"""
            WITH {_SQL_IVF}
            , probed AS (SELECT vec_id, cid FROM ranked WHERE rn <= 4),
            cand AS (
              SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
              FROM probed a JOIN probed b USING (cid)
              WHERE a.vec_id < b.vec_id),
            s AS (
              SELECT c.src, c.dst,
                     CAST(ROUND(list_dot_product(x.v, y.v)
                          / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))
                          * 1000000) AS BIGINT) AS cos_micro
              FROM cand c JOIN ei x ON x.vec_id = c.src JOIN ei y ON y.vec_id = c.dst)
            SELECT src, dst, cos_micro FROM s WHERE cos_micro >= 400000
        """,
        "ann_ivf_topk": f"""
            WITH {_SQL_IVF}
            , asn AS (SELECT vec_id AS neighbor_id, cid FROM ranked WHERE rn = 1),
            probes AS (SELECT vec_id AS query_id, cid FROM ranked
                       WHERE rn <= 4 AND vec_id < 20),
            cand AS (
              SELECT p.query_id, a.neighbor_id
              FROM probes p JOIN asn a USING (cid)
              WHERE a.neighbor_id <> p.query_id),
            s AS (
              SELECT c.query_id, c.neighbor_id,
                     CAST(ROUND(list_dot_product(q.v, n.v)
                          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))
                          * 1000000) AS BIGINT) AS cos_micro
              FROM cand c JOIN ei q ON q.vec_id = c.query_id JOIN ei n ON n.vec_id = c.neighbor_id),
            r AS (SELECT query_id, neighbor_id, cos_micro,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cos_micro DESC, neighbor_id)::INTEGER AS rank
                  FROM s)
            SELECT query_id, neighbor_id, cos_micro, rank FROM r WHERE rank <= 10
        """,
        "ann_cosine_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
            s AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     CAST(ROUND(list_dot_product(q.qv, e.v)
                          / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
                          * 1000000) AS BIGINT) AS cos_micro
              FROM q JOIN e ON e.vec_id != q.query_id),
            r AS (SELECT query_id, neighbor_id, cos_micro,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cos_micro DESC, neighbor_id)::INTEGER AS rank
                  FROM s)
            SELECT query_id, neighbor_id, cos_micro, rank FROM r WHERE rank <= 10
        """,
        "events_top_type": """
            WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
            r AS (SELECT user_id, event_type, n,
                         row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type)::INTEGER AS rn
                  FROM c)
            SELECT user_id, event_type AS top_type, n FROM r WHERE rn = 1
        """,
        "events_sessions": """
            WITH o AS (
              SELECT user_id, epoch_ms(ts) AS tms,
                     lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events),
            s AS (SELECT user_id,
                         CASE WHEN prev IS NULL OR tms - prev > 1800000 THEN 1 ELSE 0 END AS new_s
                  FROM o)
            SELECT user_id, sum(new_s)::BIGINT AS n_sessions, count(*) AS n_events
            FROM s GROUP BY user_id
        """,
        "lineitem_pricing": """
            SELECT l_returnflag, l_linestatus,
                   sum(CAST(ROUND(l_quantity * 100) AS BIGINT))::BIGINT AS sum_qty_cents,
                   sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT))::BIGINT AS sum_price_cents,
                   sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS sum_disc_cents,
                   count(*) AS n_rows
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "nation_revenue": """
            SELECT n_name,
                   sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS revenue_cents,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "ann_ivf_kmeans_topk": f"""
            WITH {_sql_ivf_kmeans(2)}
            , asn AS (SELECT vec_id AS neighbor_id, cid FROM ranked WHERE rn = 1),
            probes AS (SELECT vec_id AS query_id, cid FROM ranked
                       WHERE rn <= 4 AND vec_id < 20),
            cand AS (
              SELECT p.query_id, a.neighbor_id
              FROM probes p JOIN asn a USING (cid)
              WHERE a.neighbor_id <> p.query_id),
            s AS (
              SELECT c.query_id, c.neighbor_id,
                     CAST(ROUND(list_dot_product(q.v, n.v)
                          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))
                          * 1000000) AS BIGINT) AS cos_micro
              FROM cand c JOIN ei q ON q.vec_id = c.query_id JOIN ei n ON n.vec_id = c.neighbor_id),
            r AS (SELECT query_id, neighbor_id, cos_micro,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cos_micro DESC, neighbor_id)::INTEGER AS rank
                  FROM s)
            SELECT query_id, neighbor_id, cos_micro, rank FROM r WHERE rank <= 10
        """,
        # pixel formula mirror of synth_media_blobs(kind='bmp'): v(r,c,ch) =
        # ((doc_id % 1009)*131 + 17r + 29c + 97ch) mod 256 over a 9x7 image.
        "media_bmp_stats": """
            WITH px AS (
              SELECT d.doc_id,
                     ((d.doc_id % 1009) * 131 + r.r * 17 + c.c * 29) % 256 AS vr,
                     ((d.doc_id % 1009) * 131 + r.r * 17 + c.c * 29 + 97) % 256 AS vg,
                     ((d.doc_id % 1009) * 131 + r.r * 17 + c.c * 29 + 194) % 256 AS vb
              FROM documents d, range(9) r(r), range(7) c(c)
            )
            SELECT doc_id, CAST(7 AS INTEGER) AS width, CAST(9 AS INTEGER) AS height,
                   CAST(sum(vr) AS BIGINT) AS sum_r,
                   CAST(sum(vg) AS BIGINT) AS sum_g,
                   CAST(sum(vb) AS BIGINT) AS sum_b
            FROM px GROUP BY doc_id
        """,
        # sample formula mirror of synth_media_blobs(kind='wav'): s(i) =
        # ((doc_id % 1009)*13 + 7919i) mod 4001 - 2000, n = 64 + doc_id % 37.
        "media_wav_stats": """
            WITH s AS (
              SELECT d.doc_id,
                     i.i,
                     ((d.doc_id % 1009) * 13 + i.i * 7919) % 4001 - 2000 AS v
              FROM documents d
              CROSS JOIN range(100) i(i)
              WHERE i.i < 64 + d.doc_id % 37
            ),
            lagged AS (
              SELECT doc_id, v,
                     lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
              FROM s
            )
            SELECT doc_id,
                   count(*) AS n_samples,
                   CAST(8000 AS INTEGER) AS rate,
                   CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
                   CAST(count(*) FILTER (WHERE sign(v) * sign(pv) < 0) AS BIGINT)
                     AS n_sign_change
            FROM lagged GROUP BY doc_id
        """,
        # frame/pixel formula mirror of synth_media_blobs(kind='video'):
        # n = 3 + doc_id mod 5 frames, sampled stride 2, pixel formula as
        # media_bmp_stats plus 59*frame_idx
        "media_video_frames": """
            WITH fr AS (
              SELECT d.doc_id, f.f AS frame_idx,
                     CAST(3 + d.doc_id % 5 AS INTEGER) AS n_frames
              FROM documents d CROSS JOIN range(8) f(f)
              WHERE f.f < 3 + d.doc_id % 5 AND f.f % 2 = 0
            ),
            px AS (
              SELECT fr.doc_id, fr.frame_idx, fr.n_frames,
                     ((fr.doc_id % 1009) * 131 + r.r * 17 + c.c * 29
                      + fr.frame_idx * 59) % 256 AS vr,
                     ((fr.doc_id % 1009) * 131 + r.r * 17 + c.c * 29
                      + fr.frame_idx * 59 + 97) % 256 AS vg,
                     ((fr.doc_id % 1009) * 131 + r.r * 17 + c.c * 29
                      + fr.frame_idx * 59 + 194) % 256 AS vb
              FROM fr, range(9) r(r), range(7) c(c)
            )
            SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, n_frames,
                   CAST(7 AS INTEGER) AS width, CAST(9 AS INTEGER) AS height,
                   CAST(sum(vr) AS BIGINT) AS sum_r,
                   CAST(sum(vg) AS BIGINT) AS sum_g,
                   CAST(sum(vb) AS BIGINT) AS sum_b
            FROM px GROUP BY doc_id, frame_idx, n_frames
        """,
        # declarative mirror of the bulkCreate(validators) -> deleteById
        # -> updateByQuery lifecycle executed against the UpsertTable
        "upsert_lifecycle": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, source,
                   CASE WHEN lang = 'en' THEN n_chars + 1000 ELSE n_chars END
                     AS n_chars
            FROM documents
            WHERE length(text) >= 100
              AND lang IS NOT NULL AND length(lang) = 2
              AND doc_id % 7 != 0
        """,
        "stream_dedup_keys": f"""
            SELECT DISTINCT md5({_SQL_NORM}) AS fp FROM documents
        """,
        # gaps-and-islands mirror of the applyInPandasWithState session op
        # over the same synthesized event stream; each host's LAST session
        # never closes in-stream and is therefore excluded (the stream's
        # watermark outlives the data span, so no timeout close fires)
        # gaps-and-islands + the watermark rule: non-last sessions close by
        # 'gap'; each host's LAST session closes by 'timeout' iff the final
        # watermark (global max event time - 1h delay) passed end + 30min
        # gap, else it stays open in state and is not emitted
        "stream_host_sessions": """
            WITH ev AS (
              SELECT 'h' || (doc_id % 20) || '.example.com' AS host,
                     1704067200 + (doc_id // 20) * 60
                                + ((doc_id // 20) // 5) * 7200
                                + (doc_id % 20) * 3600 AS t
              FROM documents),
            o AS (
              SELECT host, t,
                     lag(t) OVER (PARTITION BY host ORDER BY t) AS prev
              FROM ev),
            flagged AS (
              SELECT host, t,
                     CASE WHEN prev IS NULL OR t - prev > 1800 THEN 1 ELSE 0 END AS new_s
              FROM o),
            numbered AS (
              SELECT host, t,
                     sum(new_s) OVER (PARTITION BY host ORDER BY t
                                      ROWS UNBOUNDED PRECEDING)::INTEGER AS session_seq
              FROM flagged),
            agg AS (
              SELECT host, session_seq,
                     count(*) AS n_pages,
                     min(t) AS start_s, max(t) AS end_s
              FROM numbered GROUP BY host, session_seq),
            wm AS (SELECT max(t) - 3600 AS w FROM ev)
            SELECT host, session_seq, n_pages, start_s, end_s,
                   CASE WHEN session_seq < (SELECT max(session_seq) FROM agg b
                                            WHERE b.host = a.host)
                        THEN 'gap' ELSE 'timeout' END AS closed_by
            FROM agg a
            WHERE session_seq < (SELECT max(session_seq) FROM agg b
                                 WHERE b.host = a.host)
               OR end_s + 1800 < (SELECT w FROM wm)
        """,
    }
