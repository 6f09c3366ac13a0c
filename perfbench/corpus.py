"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so one ``--seed`` gives
byte-identical inputs on every run.

* Open-vocabulary pages: ``synth_pages(seed)`` with every ``\\w+`` word
  suffixed by a tag derived from ``(tag_seed, block)``. The tag is
  lower-case ASCII alphanumeric and appended at the end of the word, so it
  commutes with the normalizer (lower → fold → strip non-alnum) and the
  mapping is one-to-one within a block: the planted golden groups of
  ``sources.pages`` survive unchanged, but every block has its own
  vocabulary, so the worker-global token memos no longer see the stock
  80-word vocabulary on every page.
* Driver-contract tables: the ten parquet tables ``__spark_entry__``
  queries read (documents, embeddings, events and the TPC-H-style star),
  at the row counts of the graded sf0.001 tables.
"""

from __future__ import annotations

import hashlib
import re
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_WORD_RE = re.compile(r"\w+")


def block_tag(tag_seed: int, block: int) -> str:
    """Per-block word suffix: 'q' + 5 base-36 chars, lower-case ASCII."""
    h = int.from_bytes(hashlib.blake2b(f"{tag_seed}:{block}".encode(), digest_size=8).digest(), "big")
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = []
    for _ in range(5):
        h, r = divmod(h, 36)
        out.append(digits[r])
    return "q" + "".join(out)


def tag_text(text: str, tag: str) -> str:
    return _WORD_RE.sub(lambda m: m.group(0) + tag, text)


def url_block(url: str) -> int:
    """Block of a ``sources.pages`` url (``.../p/<block:06d>/<slot:02d>``)."""
    return int(url.rsplit("/", 2)[-2])


def write_open_vocab_pages(path: str, n_pages: int, seed: int, tag_seed: int) -> None:
    """``synth_pages(seed)`` rows, tagged, written as one parquet file.

    Runs the package's own page kernel in-process (no Spark job), so
    generating the input costs well under a second per thousand pages."""
    from co_deduplicate_spark.sources.pages import _gen_partition, render_html

    ids = pd.DataFrame({"seed": [seed] * n_pages, "id": range(n_pages)})
    pdf = next(_gen_partition(iter([ids])))
    text = [tag_text(t, block_tag(tag_seed, url_block(u))) for t, u in zip(pdf["text"], pdf["url"])]
    html = [render_html(t, u) for t, u in zip(text, pdf["url"])]
    pdf = pdf.assign(text=text, html=html, warc_ts=pdf["warc_ts"].astype("datetime64[us]"))
    Path(path).mkdir(parents=True, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                   str(Path(path) / "pages.parquet"))


def open_vocab_texts(n_pages: int, seed: int, tag_seed: int) -> list[str]:
    """The same tagged texts, generated in-process (no Spark)."""
    from co_deduplicate_spark.sources.pages import BLOCK, _page_text

    return [
        tag_text(_page_text(seed, i)[0], block_tag(tag_seed, i // BLOCK))
        for i in range(n_pages)
    ]


# --------------------------------------------------------------------------
# driver-contract tables
# --------------------------------------------------------------------------

def _write(df: pd.DataFrame, path: Path) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(path))


def write_driver_tables(out_dir: str, seed: int) -> None:
    """The ten tables of the driver contract at sf0.001 row counts."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)

    # documents: short texts over a small vocabulary, as in the graded
    # sf0.001 table; documents 6 and 9 of every ten are near-copies of their
    # predecessor, so the dedup leaves have planted pairs to find
    vocab = ("the a data spark table column row key value join filter group sort merge "
             "scan hash batch stream window query order line part customer fast slow big "
             "small agg vector").split()
    docs, prev = [], []
    langs, n_docs = ["en", "en", "fr", "de", "es", "zh"], 250
    for d in range(n_docs):
        if d % 10 in (6, 9):
            toks = list(prev)
            if len(toks) >= 20:
                toks[int(rng.integers(len(toks)))] = str(rng.choice(vocab))
        else:
            toks = [str(w) for w in rng.choice(vocab, size=int(rng.integers(8, 90)))]
        prev = toks
        text = " ".join(toks)
        docs.append((d, text, langs[int(rng.integers(len(langs)))],
                     f"src{int(rng.integers(20))}", len(text)))
    _write(pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source", "n_chars"]),
           out / "documents.parquet")

    # embeddings: 10 labelled clusters of 64-d vectors plus near-copies
    n_vec, dims = 500, 64
    centers = rng.normal(size=(10, dims))
    labels = rng.integers(0, 10, size=n_vec)
    vecs = centers[labels] * 0.6 + rng.normal(size=(n_vec, dims))
    for j in range(0, n_vec, 25):  # every 25th vector gets a near-copy
        if j + 1 < n_vec:
            vecs[j + 1] = vecs[j] + rng.normal(scale=0.05, size=dims)
            labels[j + 1] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32),
    }), out / "embeddings.parquet")

    # events: one month of a small user population
    n_ev = 1000
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n_ev))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (start + offs.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 15, size=n_ev).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], size=n_ev),
        "value": np.round(rng.uniform(0, 330, size=n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
    }), out / "events.parquet")

    # TPC-H-style star at sf0.001 cardinalities
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": regions}),
           out / "region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), out / "nation.parquet")
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], size=n_cust),
    }), out / "customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, size=n_supp), 2),
    }), out / "supplier.parquet")
    adjs, nouns = ["cold", "small", "large", "bright"], ["widget", "bolt", "gear", "valve"]
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjs[k % 4]} {nouns[(k // 4) % 4]}" for k in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
        "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "LARGE"], size=n_part),
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    }), out / "part.parquet")
    day0 = datetime(1995, 1, 1)
    odates = [day0 + timedelta(days=int(d)) for d in rng.integers(0, 2400, size=n_ord)]
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 450000, size=n_ord), 2),
        "o_orderdate": pd.to_datetime(odates).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], size=n_ord),
    }), out / "orders.parquet")
    rows = []
    for ok in range(n_ord):
        for ln in range(1, 5):
            ship = odates[ok] + timedelta(days=int(rng.integers(1, 120)))
            qty = float(rng.integers(1, 51))
            rows.append((ok, int(rng.integers(0, n_part)), int(rng.integers(0, n_supp)), ln,
                         qty, round(qty * float(rng.uniform(900, 2100)), 2),
                         round(float(rng.integers(0, 11)) / 100, 2),
                         round(float(rng.integers(0, 9)) / 100, 2),
                         str(rng.choice(["A", "N", "R"])),
                         "F" if ship < datetime(1998, 6, 1) else "O", ship))
    li = pd.DataFrame(rows, columns=[
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"])
    li["l_linenumber"] = li["l_linenumber"].astype(np.int32)
    li["l_shipdate"] = pd.to_datetime(li["l_shipdate"]).astype("datetime64[us]")
    _write(li, out / "lineitem.parquet")
