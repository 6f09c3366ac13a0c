"""MinHash signatures — Arrow-vectorized pandas UDF (engine 1 of 3).

Generalizes the reference's exact-key blocking (tier-1/tier-2 rules,
/root/reference/src/deduplicateQueryBuilder.js:75-107 +
test/functional/dataset/exemples.json rule names) to near-duplicate
blocking over web text, per BASELINE.json north_star: k-shingle sets and
128-permutation signatures computed per Arrow batch.

Design choices (determinism is a hard requirement — FIXTURES.md §4):
  * base shingle hash: per-token blake2b(digest_size=8) — stable across
    processes, partitions, and runs (Python's builtin ``hash`` is salted;
    NOT used) — combined per k-gram with a vectorized splitmix64 mix
    (shingle_hashes; PLANS.md §14a for the measured speedup). This kernel
    generation is tagged as ``DedupConfig.minhash_kernel`` (= "2"): bump
    that field with any change to signature VALUES so StageCatalog resume
    invalidates signature tables written by older kernel builds instead of
    silently reusing them.
  * permutations: affine maps ``h -> a*h + b (mod 2^64)`` with odd ``a``.
    Odd-multiplier affine maps are bijections of Z_2^64, i.e. true
    permutations, which is exactly what MinHash needs; numpy uint64
    arithmetic wraps mod 2^64 natively, so the whole signature is
    vectorized — no per-permutation Python loop.
  * seeds: fixed in DedupConfig → signatures identical across runs and
    across partition counts.

Docs with zero shingles get a NULL signature (the reference's
``isDeduplicable=false`` short-circuit, index.js:45-49).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.normalize import tokens_py


def shingles_py(text: str | None, k: int) -> list[str]:
    """Distinct k-token shingles. Shorter-than-k docs collapse to one
    whole-text shingle (mirrors operators/jaccard.py::token_sets)."""
    toks = tokens_py(text)
    if not toks:
        return []
    if len(toks) < k:
        return [" ".join(toks)]
    seen = dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
    return list(seen)


def shingle_hash(s: str) -> int:
    """Stable 64-bit string hash (blake2b-8)."""
    return int.from_bytes(hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "little")


# Worker-global token-hash memo. Web-text token frequency is Zipfian, so
# most lookups hit; the cache persists across Arrow batches in a reused
# python worker. Determinism is unaffected (pure memoization); the clear()
# guard bounds memory on adversarial vocabularies.
_TOKEN_CACHE: dict[str, int] = {}
_TOKEN_CACHE_MAX = 1 << 20


def token_hash(tok: str) -> int:
    v = _TOKEN_CACHE.get(tok)
    if v is None:
        if len(_TOKEN_CACHE) >= _TOKEN_CACHE_MAX:
            _TOKEN_CACHE.clear()
        v = shingle_hash(tok)
        _TOKEN_CACHE[tok] = v
    return v


_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_STEP = np.uint64(0x9E3779B97F4A7C15)


def _splitmix(h: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (wraps mod 2^64 by design)."""
    h = (h ^ (h >> np.uint64(30))) * _MIX1
    h = (h ^ (h >> np.uint64(27))) * _MIX2
    return h ^ (h >> np.uint64(31))


def shingle_hashes(toks: list[str], k: int) -> np.ndarray | None:
    """uint64 hashes of the distinct k-token shingles (whole-doc shingle
    when len(toks) < k), sorted.

    Replaces hash(join(k tokens)) per shingle with a vectorized splitmix64
    combination of per-token blake2b hashes: each token is hashed at most
    once per worker (memoized), and the k-gram combination is k-1 numpy
    passes over the whole doc — no per-shingle Python. Measured 2.2×
    faster end-to-end than the per-shingle-blake2b kernel on the synthetic
    corpus (PLANS.md §14a). MinHash only needs a deterministic 64-bit hash
    of each distinct shingle, not any particular one — candidate recall is
    re-proven against the exhaustive-Jaccard oracle."""
    if not toks:
        return None
    th = np.fromiter((token_hash(t) for t in toks), dtype=np.uint64, count=len(toks))
    kk = min(k, len(toks))
    n = len(toks) - kk + 1
    with np.errstate(over="ignore"):
        hs = _splitmix(th[:n].copy())
        for j in range(1, kk):
            hs = _splitmix(hs * _STEP ^ th[j : n + j])
    return np.unique(hs)


def _perm_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(cfg.minhash_seed)
    a = rng.randint(0, 1 << 62, size=cfg.num_perms).astype(np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 1 << 62, size=cfg.num_perms).astype(np.uint64)
    return a, b


def minhash_py(text: str | None, cfg: DedupConfig) -> list[int] | None:
    """Pure-Python/numpy reference implementation (unit tests + oracle)."""
    hs = shingle_hashes(tokens_py(text), cfg.shingle_k)
    if hs is None:
        return None
    a, b = _perm_params(cfg)
    with np.errstate(over="ignore"):
        sig = (hs[:, None] * a[None, :] + b[None, :]).min(axis=0)
    return sig.view(np.int64).tolist()


def minhash_signature_udf(cfg: DedupConfig):
    """Arrow-batched signature kernel: text → struct<minhash array<long>,
    n_shingles int> in a single pass (shingling is the dominant cost; the
    lineage counter rides along for free).

    The permutation matrix is built once per executor (closure capture,
    small constant); per-token hashes are memoized worker-globally
    (token_hash) so the per-doc work is tokenize + k-1 vectorized mixes +
    the signature min-reduction.
    """
    k = cfg.shingle_k
    a_params, b_params = _perm_params(cfg)

    @F.pandas_udf("minhash array<bigint>, n_shingles int")
    def sig(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for batch in texts:
            sigs: list = []
            counts: list = []
            with np.errstate(over="ignore"):
                for t in batch:
                    hs = shingle_hashes(tokens_py(t), k)
                    if hs is None:
                        counts.append(0)
                        sigs.append(None)
                        continue
                    counts.append(len(hs))
                    sig_v = (hs[:, None] * a_params[None, :] + b_params[None, :]).min(axis=0)
                    sigs.append(sig_v.view(np.int64))
            yield pd.DataFrame({"minhash": pd.Series(sigs, dtype=object),
                                "n_shingles": pd.Series(counts, dtype="int32")})

    return sig


def with_minhash(docs: DataFrame, cfg: DedupConfig, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, minhash array<long>, n_shingles int) signature table.

    The Arrow kernel parallelizes per-partition, and parquet inputs often
    arrive as one or two files — so an under-parallel projection is
    repartitioned to the session's default parallelism before the UDF.
    Only (id, text) are shuffled — column pruning keeps document metadata
    out of the exchange. n_shingles (lineage counter, FIXTURES.md §3)
    rides along from the same kernel pass.
    """
    narrow = docs.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_text"))
    n = docs.sparkSession.sparkContext.defaultParallelism
    # r6 (guide §2.4): only shuffle when the input is UNDER-parallel
    # (e.g. a single local parquet file). A 100 TB scan already arrives
    # in thousands of splits — the unconditional repartition was a full
    # (id, text) exchange for nothing; signatures are per-row
    # deterministic, so partitioning never affects values.
    if narrow.rdd.getNumPartitions() < n:
        narrow = narrow.repartition(n, "doc")
    sig = minhash_signature_udf(cfg)
    return narrow.select("doc", sig(F.col("_text")).alias("_s")).select(
        "doc", F.col("_s.minhash").alias("minhash"), F.col("_s.n_shingles").alias("n_shingles")
    )
