"""The one Arrow text kernel, and MinHash signatures (engine 1 of 3).

Generalizes the reference's exact-key blocking (tier-1/tier-2 rules,
/root/reference/src/deduplicateQueryBuilder.js:75-107 +
test/functional/dataset/exemples.json rule names) to near-duplicate
blocking over web text, per BASELINE.json north_star: k-shingle sets and
128-permutation signatures computed per Arrow batch.

One kernel per document (:func:`text_features_udf`): the reference
normalizes each match field once, at index time, and then compares exact
keys (functions/normalize.py); likewise every text feature the engines
compare comes from ONE tokenization per document, each token hashed once:

  * ``minhash`` + ``n_shingles`` — the signature and its shingle count;
  * ``shingles`` — the distinct k-shingle hashes the Jaccard verification
    intersects (operators/jaccard.py);
  * ``simhash`` — md5-60 votes over the distinct shingle strings
    (operators/simhash.py);
  * ``wkeys`` — rolling-hash keys of every w-token window
    (operators/substring.py).

The kernel emits only the fields its caller asks for. The pipeline asks
once for the signature fields plus those its selected engines read, and
persists that frame while they read it (plans/pipeline.py); each public
operator asks for its own field. Per-document Python over Arrow batches,
not Catalyst higher-order functions: the equivalent
``transform(sequence(...), i -> concat_ws(slice(...)))`` shingle
expression measured ~30× slower on 200k web pages (Spark evaluates HOF
lambdas interpreted), and the window-key HOF form measured 18.7 s → 3 s
once moved into the kernel (sf0.1 battery).

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


def _distinct_shingles(toks: list[str], k: int) -> list[str]:
    if not toks:
        return []
    if len(toks) < k:
        return [" ".join(toks)]
    return list(dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)))


def shingles_py(text: str | None, k: int) -> list[str]:
    """Distinct k-token shingles, in first-occurrence order. Shorter-than-k
    docs collapse to one whole-text shingle (as shingle_hashes does)."""
    return _distinct_shingles(tokens_py(text), k)


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


def _token_hashes(toks: list[str]) -> np.ndarray:
    return np.fromiter((token_hash(t) for t in toks), dtype=np.uint64, count=len(toks))


_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_STEP = np.uint64(0x9E3779B97F4A7C15)


def _splitmix(h: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (wraps mod 2^64 by design)."""
    h = (h ^ (h >> np.uint64(30))) * _MIX1
    h = (h ^ (h >> np.uint64(27))) * _MIX2
    return h ^ (h >> np.uint64(31))


def _mix_shingles(th: np.ndarray, k: int) -> np.ndarray:
    """Sorted distinct k-gram hashes of a non-empty token-hash array."""
    kk = min(k, len(th))
    n = len(th) - kk + 1
    with np.errstate(over="ignore"):
        hs = _splitmix(th[:n].copy())
        for j in range(1, kk):
            hs = _splitmix(hs * _STEP ^ th[j : n + j])
    return np.unique(hs)


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
    return _mix_shingles(_token_hashes(toks), k)


def perm_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(cfg.minhash_seed)
    a = rng.randint(0, 1 << 62, size=cfg.num_perms).astype(np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 1 << 62, size=cfg.num_perms).astype(np.uint64)
    return a, b


def minhash_py(text: str | None, cfg: DedupConfig) -> list[int] | None:
    """Pure-Python/numpy reference implementation (unit tests + oracle)."""
    hs = shingle_hashes(tokens_py(text), cfg.shingle_k)
    if hs is None:
        return None
    a, b = perm_params(cfg)
    with np.errstate(over="ignore"):
        sig = (hs[:, None] * a[None, :] + b[None, :]).min(axis=0)
    return sig.view(np.int64).tolist()


# kernel output fields, in struct order, with their Spark types
FEATURES = {
    "minhash": "array<bigint>",
    "n_shingles": "int",
    "shingles": "array<bigint>",
    "simhash": "bigint",
    "wkeys": "array<bigint>",
}
_EMPTY = np.array([], dtype=np.int64)


def text_features_udf(fields, *, shingle_k: int | None = None,
                      window_tokens: int | None = None, simhash_bits: int | None = None,
                      perms: tuple[np.ndarray, np.ndarray] | None = None):
    """The Arrow kernel: text → struct of the requested :data:`FEATURES`.

    Per document: ``tokens_py`` once, each token hashed once through the
    worker-global :func:`token_hash` memo, then only the requested
    features. Each argument is read only by the fields that need it:
    ``shingle_k`` by ``minhash``/``n_shingles``/``shingles`` (which share
    the k-shingle hashes) and ``simhash`` (md5-60 over the distinct
    shingle strings through ``simhash._SHINGLE60_CACHE``); ``perms``
    (:func:`perm_params`) by ``minhash``; ``simhash_bits`` by ``simhash``;
    ``window_tokens`` by ``wkeys``, one numpy sliding-window × powers-of-B
    dot product over the token hashes (docs shorter than a window emit
    none). A doc without tokens gets NULL minhash/simhash, 0 shingles and
    empty arrays.
    """
    from .simhash import simhash_of

    fields = [f for f in FEATURES if f in fields]
    k, w = shingle_k, window_tokens
    # field → f(tokens, token hashes, shingle hashes or None)
    make = {
        "n_shingles": lambda toks, th, hs: 0 if hs is None else len(hs),
        "shingles": lambda toks, th, hs: _EMPTY if hs is None else hs.view(np.int64),
        "simhash": lambda toks, th, hs: simhash_of(_distinct_shingles(toks, k), simhash_bits),
    }
    if "minhash" in fields:
        a, b = perms
        make["minhash"] = lambda toks, th, hs: (
            None if hs is None else (hs[:, None] * a + b).min(axis=0).view(np.int64))
    if "wkeys" in fields:
        # rolling-hash weights B^(w-1) … B^0, B = the FNV-64 prime
        powers = np.uint64(1099511628211) ** np.arange(w - 1, -1, -1, dtype=np.uint64)
        make["wkeys"] = lambda toks, th, hs: _EMPTY if len(toks) < w else np.unique(
            (np.lib.stride_tricks.sliding_window_view(th, w) * powers)
            .sum(axis=1, dtype=np.uint64)).view(np.int64)
    fns = [make[f] for f in fields]
    need_hs = bool({"minhash", "n_shingles", "shingles"} & set(fields))
    need_th = need_hs or "wkeys" in fields

    def row(t):
        toks = tokens_py(t)
        th = _token_hashes(toks) if need_th else None
        hs = _mix_shingles(th, k) if need_hs and toks else None
        return [fn(toks, th, hs) for fn in fns]

    @F.pandas_udf(", ".join(f"{f} {FEATURES[f]}" for f in fields))
    def features(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for batch in texts:
            with np.errstate(over="ignore"):  # intentional mod-2^64 hashes
                cols = list(zip(*map(row, batch))) or [()] * len(fields)
            yield pd.DataFrame({f: pd.Series(c, dtype="int32" if f == "n_shingles" else object)
                                for f, c in zip(fields, cols)})

    return features


def text_features(docs: DataFrame, fields, id_col: str = "doc_id", text_col: str = "text",
                  **params) -> DataFrame:
    """(doc, *fields): :func:`text_features_udf` over ``docs``, flattened;
    ``params`` are the kernel's keyword arguments."""
    kernel = text_features_udf(fields, **params)
    return docs.select(F.col(id_col).alias("doc"), kernel(F.col(text_col)).alias("_f")).select(
        "doc", "_f.*")


def spread(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc, text), repartitioned by doc when under-parallel.

    The Arrow kernel parallelizes per partition, and parquet inputs often
    arrive as one or two files — so an under-parallel projection is
    repartitioned to the session's default parallelism before the kernel.
    Only (id, text) are shuffled — column pruning keeps document metadata
    out of the exchange. r6 (guide §2.4): only shuffle when the input is
    UNDER-parallel — a 100 TB scan already arrives in thousands of splits;
    features are per-row deterministic, so partitioning never affects
    values.
    """
    narrow = docs.select(F.col(id_col).alias("doc"), F.col(text_col).alias("text"))
    n = docs.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < n:
        narrow = narrow.repartition(n, "doc")
    return narrow


def with_minhash(docs: DataFrame, cfg: DedupConfig, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc, minhash array<long>, n_shingles int) signature table; the
    kernel runs over :func:`spread` input. n_shingles (lineage counter,
    FIXTURES.md §3) rides along from the same kernel pass."""
    return text_features(spread(docs, id_col, text_col), ("minhash", "n_shingles"), "doc",
                         shingle_k=cfg.shingle_k, perms=perm_params(cfg))
