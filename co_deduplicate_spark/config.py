"""Engine configuration.

The reference keeps its rule definitions in an external config package
(``corhal-config``, loaded at /root/reference/src/deduplicateQueryBuilder.js:2)
and its behavioural constants inline (result cap index.js:56, graph depth
documentsManager.js:190). We centralize everything here; ``config_hash``
stamps every stage table so resume only reuses work computed under the
identical configuration (SURVEY.md §7 step 6).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # bump when kernel semantics change (participates in config_hash so
    # resumed runs never mix signature generations) — v2: shingle-simhash,
    # v3: corpus stage emits quality_flags
    engine_version: str = "3"

    # per-kernel generation tags: a kernel REWORK that preserves semantics
    # can still change raw signature VALUES (e.g. minhash v2 swapped
    # per-shingle blake2b for memoized token blake2b + splitmix64 combine).
    # Because these fields ride config_hash, a resumed workdir written by
    # an older kernel build fails the stage-manifest match and recomputes
    # instead of silently mixing signature generations.
    minhash_kernel: str = "2"
    simhash_kernel: str = "1"

    # --- shingling / MinHash (engine 1) ---
    shingle_k: int = 3            # tokens per shingle
    num_perms: int = 128          # MinHash permutations (north_star: 128)
    lsh_bands: int = 32           # bands; rows per band = num_perms // lsh_bands
    jaccard_threshold: float = 0.8
    minhash_seed: int = 42

    # --- SimHash (engine 2) ---
    simhash_bits: int = 60        # 60 bits = 15 hex chars of md5 → fits signed int64
    hamming_max: int = 3          # Hamming-ball radius
    # blocking joins on every C(m, m-d) combination of m-d of m blocks
    # (exact; wide keys — PLANS.md §7)
    simhash_blocks: int = 6       # m; 60 bits / 6 = 10-bit blocks, C(6,3)=20 keys

    # --- suffix/substring (engine 3) ---
    substring_min_tokens: int = 12  # min length of normalized text to count as contained

    # --- duplicated-passage windows (pipeline engine "window") ---
    window_tokens: int = 30         # exact-window length (suffix-array use case)
    # df cap for window keys INSIDE the pipeline: boilerplate shared by
    # more than this many docs is dropped from candidate generation (drop
    # count logged to lineage — never silent). The standalone
    # suffix_window_pairs query stays uncapped/exhaustive by design.
    window_max_df: int = 2000

    # --- embedding ANN (pipeline engine "ann") ---
    ann_centroids: int = 32         # IVF centroid count (~sqrt(n) at scale)
    ann_probes: int = 2             # probed buckets per vector for pair search
    ann_threshold_micro: int = 400_000  # exact-cosine accept threshold (micro)
    ann_kmeans_iters: int = 0       # Lloyd refinement passes (0 = seed centroids)

    # --- clustering ---
    cc_max_iterations: int = 50

    # --- skew control ---
    band_bucket_cap: int = 2000   # pairs per LSH bucket before salted split kicks in
    salt_buckets: int = 16
    # clusters larger than this never materialize a member list / chain
    # string (a boilerplate mega-cluster would OOM one reducer and produce a
    # multi-GB chain); they get a placeholder chain + truncated=true, and
    # the capped count is logged to lineage (no silent truncation)
    chain_max_members: int = 10_000

    # --- ingest quality flags (reference: ES `_ignored`,
    #     documentsManager.js:206-218) ---
    # a field is FLAGGED (value present but unusable — rules treat it as
    # absent, P14) when: text longer than max_doc_chars, or lang present
    # but not a plausible BCP-47-ish tag
    max_doc_chars: int = 1_000_000

    # --- session semantics (reference: technical.sessionName) ---
    session_name: str = "batch-0"

    @property
    def lsh_rows_per_band(self) -> int:
        return self.num_perms // self.lsh_bands

    def config_hash(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
