"""SimHash + Hamming-ball candidate lookup (engine 2 of 3).

Per BASELINE.json north_star: 60-bit SimHash over distinct normalized
tokens, candidate pairs found with the pigeonhole principle — split the
signature into ``simhash_blocks`` blocks and equi-join on every
combination of ``simhash_blocks - hamming_max`` of them. The blocking is
*exact*: two signatures within Hamming distance d agree on at least that
many blocks, so candidate recall is 1.0 by construction (unlike
MinHash-LSH's probabilistic bands). The block join is the same
blocking-key pattern as the reference's per-rule term lookups
(src/deduplicateQueryBuilder.js:75-107).

Token hash: low 60 bits of md5 (first 15 hex chars) — chosen because it is
reproducible in any engine (the DuckDB oracle computes the identical
signature in SQL; tests/test_entry.py proves bit-equality). Signature bit
b is set iff the (+1/−1) vote sum over distinct tokens is strictly
positive — ties → 0, matching the SQL mirror.

The signature is one field of the shared Arrow text kernel
(minhash.py::text_features_udf); :func:`simhash_of` is its per-document
vote. Measured decision (PLANS.md §SimHash kernel): a whole-batch variant
— flat shingle array + S×60 bit matrix + ``np.add.reduceat`` segment sums
— was built and A/B'd at 40k pages / 16 threads: per-doc numpy is STABLE
at 2-4 s while the batch-matrix kernel oscillated 3-22 s (multi-10-MB
allocation churn in reused python workers). The md5 loop dominates either
way; the per-doc bit matrix (~150×60) stays in cache. ``hamming_pairs``
is a checkpoint, then the :func:`hamming_join` half; the pipeline runs
the join half directly over its persisted kernel frame.
"""

from __future__ import annotations

import hashlib
from itertools import combinations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from .minhash import shingles_py, text_features


def token_hash_py(token: str, bits: int = 60) -> int:
    """Low ``bits`` of md5 — mirrored by the oracle as
    ``('0x' || substr(md5(t), 1, bits//4))::BIGINT``.

    r6: computed from the raw digest bytes — ``int(hexdigest[:h], 16)``
    equals the big-endian int of the first ``ceil(h/2)`` digest bytes
    shifted right by 4 bits when ``h`` is odd (15 hex chars = 60 bits =
    first 8 bytes >> 4). Identical value, no hex-string build/parse
    (~25% off the md5 loop that dominates this kernel, PLANS.md §8).
    """
    nhex = bits // 4
    v = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[: (nhex + 1) // 2], "big")
    return v >> 4 if nhex % 2 else v


# Worker-global shingle-hash memo (the minhash.py::_TOKEN_CACHE pattern):
# the md5-per-shingle loop dominates the simhash kernel (PLANS.md §8), and
# near-duplicate / boilerplate corpora repeat most shingles across docs —
# memoization is pure (deterministic), bounded, and persists across Arrow
# batches in a reused python worker. Measured: simhash_hamming_pairs
# 3.98 → 3.54 s at sf0.1 from this change alone (1.28 s once the
# hamming_pairs self-join stopped double-running the kernel; 1.10 s in
# the end-of-round battery, BENCH/battery_r6_run2.json).
_SHINGLE60_CACHE: dict[str, int] = {}
_SHINGLE60_CACHE_MAX = 1 << 20


def _token_hash60(token: str) -> int:
    v = _SHINGLE60_CACHE.get(token)
    if v is None:
        if len(_SHINGLE60_CACHE) >= _SHINGLE60_CACHE_MAX:
            _SHINGLE60_CACHE.clear()
        v = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:8], "big") >> 4
        _SHINGLE60_CACHE[token] = v
    return v


def simhash_of(shingles: list[str], bits: int = 60) -> int | None:
    """SimHash of a distinct-shingle list; None when it is empty."""
    if not shingles:
        return None
    if bits == 60:  # the engine path: memoized digest-based hashes
        h = np.fromiter((_token_hash60(t) for t in shingles), dtype=np.uint64,
                        count=len(shingles))
    else:
        h = np.array([token_hash_py(t, bits) for t in shingles], dtype=np.uint64)
    bit_matrix = (h[:, None] >> np.arange(bits, dtype=np.uint64)[None, :]) & np.uint64(1)
    votes = 2 * bit_matrix.sum(axis=0).astype(np.int64) - len(shingles)
    # pack sign bits without a Python bit loop (sum of distinct powers < 2^60)
    return int((np.uint64(1) << np.arange(bits, dtype=np.uint64))[votes > 0].sum())


def simhash_py(text: str | None, bits: int = 60, k: int = 3) -> int | None:
    """SimHash over distinct k-token shingles (NOT unigrams): with a small
    shared vocabulary, every document's unigram set converges and unigram
    simhashes collapse within a few bits of each other, merging unrelated
    docs — measured on the synthetic corpus: half the corpus fused into one
    cluster. Shingles keep the feature sets document-specific (same reason
    the MinHash engine shingles)."""
    return simhash_of(shingles_py(text, k), bits)


def with_simhash(docs: DataFrame, cfg: DedupConfig, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    return text_features(docs, ("simhash",), id_col, text_col, shingle_k=cfg.shingle_k,
                         simhash_bits=cfg.simhash_bits)


def _blocking_keys(cfg: DedupConfig) -> list:
    """Compile-time list of blocking-key Column expressions.

    m=simhash_blocks blocks; a pair within distance d has ≥ m−d clean
    blocks, so joining on every C(m, m−d) combination of m−d blocks is
    EXACT (recall 1.0) with wide keys — m=6, d=3 gives 20 combinations of
    30-bit keys (collision ≈ 20·2⁻³⁰), ~5 orders of magnitude fewer random
    candidates than pigeonhole's d+1 single 15-bit chunks, for a 5×
    explode factor. Measured candidate curves in PLANS.md §7.
    """
    m, d = cfg.simhash_blocks, cfg.hamming_max
    if m <= d:
        raise ValueError(f"simhash_blocks={m} must exceed hamming_max={d}")
    block_bits = cfg.simhash_bits // m
    mask = (1 << block_bits) - 1
    keys = []
    for combo in combinations(range(m), m - d):
        kv = F.lit(0).cast("long")
        for j, c in enumerate(combo):
            block = F.shiftright(F.col("simhash"), c * block_bits).bitwiseAND(F.lit(mask))
            kv = kv.bitwiseOR(F.shiftleft(block, j * block_bits))
        keys.append(kv)
    return keys


def hamming_pairs(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """All pairs (src < dst) with Hamming(simhash) <= hamming_max:
    :func:`hamming_join` over ``sigs`` materialized once.

    The self-join expands the signature plan once per side; a live
    with_simhash plan would pay the md5-shingle loop TWICE per doc, so the
    (doc, simhash) table is checkpointed first. Measured:
    simhash_hamming_pairs 3.85 → 2.6 s at sf0.1. The pipeline calls
    :func:`hamming_join` directly on its persisted kernel frame.
    """
    return hamming_join(sigs.localCheckpoint(), cfg)


def hamming_join(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The blocking self-join over a (doc, simhash) frame, which is read
    once per side (pass a materialized one).

    Exact multi-block blocking join (:func:`_blocking_keys`), then JVM-side
    popcount verification: ``bit_count(s1 ^ s2)`` — whole-stage codegen,
    no Python.
    """
    keyed = (
        sigs.filter(F.col("simhash").isNotNull())
        .select("doc", "simhash",
                F.posexplode(F.array(*_blocking_keys(cfg))).alias("chunk_id", "chunk_val"))
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("src"),
            F.col("b.doc").alias("dst"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= cfg.hamming_max)
        .distinct()
    )

