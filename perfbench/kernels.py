"""Python-kernel micro-bench: MinHash and SimHash over the batch_dedup texts.

Runs in its own interpreter with no Spark session, so the worker-global
token memos start empty and the numbers are the kernels alone:

    python3 perfbench/kernels.py --seed 1 --pages 2000

Prints one JSON line: ``kernel.minhash.docs_per_s`` and
``kernel.simhash.docs_per_s``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pages", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, str(ROOT))

    from co_deduplicate_spark.config import DedupConfig
    from co_deduplicate_spark.operators import minhash, simhash
    from perfbench.corpus import open_vocab_texts

    cfg = DedupConfig()
    texts = open_vocab_texts(args.pages, args.seed, args.seed)
    out = {}
    for name, fn in (("minhash", lambda t: minhash.minhash_py(t, cfg)),
                     ("simhash", lambda t: simhash.simhash_py(t, cfg.simhash_bits, cfg.shingle_k))):
        minhash._TOKEN_CACHE.clear()
        simhash._SHINGLE60_CACHE.clear()
        t0 = time.perf_counter()
        for t in texts:
            fn(t)
        out[f"kernel.{name}.docs_per_s"] = len(texts) / (time.perf_counter() - t0)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
