"""Streaming dedup and incremental session semantics (G2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from co_deduplicate_spark.config import DedupConfig
from co_deduplicate_spark.sources.pages import PAGES_SCHEMA, synth_pages
from co_deduplicate_spark.streaming.incremental import incremental_update, session_edges
from co_deduplicate_spark.streaming.stream_dedup import stream_exact_dedup

CFG = DedupConfig()


# ---------------------------------------------------------------- streaming
def test_stream_exact_dedup(spark, tmp_path):
    src = str(tmp_path / "landing")
    pages = synth_pages(spark, 100, seed=42)
    pages.write.parquet(src)
    q = (
        stream_exact_dedup(spark, src, PAGES_SCHEMA)
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM deduped")
    n_in = pages.count()
    n_out = out.count()
    n_distinct_fp = pages.select(
        F.md5(F.regexp_replace(F.lower("text"), "[^0-9a-z]+", "")).alias("fp")
    ).distinct().count()
    assert n_out == n_distinct_fp < n_in  # exact+style dups collapsed


# ------------------------------------------------------- session semantics
def test_session_edges_filter(spark):
    edges = spark.createDataFrame(
        [
            ("a", "b", ["rule1"], "s1"),   # rules → connectivity regardless of session
            ("b", "c", [], "s2"),          # current session, no rules → connectivity
            ("c", "d", [], "s1"),          # other session, no rules → node only
        ],
        "src string, dst string, rules array<string>, session string",
    )
    live = {(r["src"], r["dst"]) for r in session_edges(edges, "s2").collect()}
    assert live == {("a", "b"), ("b", "c")}


def test_incremental_update_merges_and_scopes(spark):
    # session 1: two clusters {a1,a2}, {b1,b2}; singleton c1
    texts = {
        "a1": "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi",
        "a2": "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi",
        "b1": "one two three four five six seven eight nine ten eleven twelve thirteen fourteen",
        "b2": "one two three four five six seven eight nine ten eleven twelve thirteen fourteen",
        "c1": "totally unrelated content about spark adaptive query execution and skew joins",
    }
    old_corpus = spark.createDataFrame(list(texts.items()), "url string, text string")
    old_edges = spark.createDataFrame(
        [("a1", "a2", ["minhash-lsh:k3"], "s1"), ("b1", "b2", ["minhash-lsh:k3"], "s1")],
        "src string, dst string, rules array<string>, session string",
    )
    old_labels = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1"), ("b1", "b1"), ("b2", "b1"), ("c1", "c1")],
        "node string, component string",
    )
    # session 2: a3 joins cluster A; d1 is new singleton
    new_pages = spark.createDataFrame(
        [("a3", texts["a1"]), ("d1", "fresh unseen words completely distinct vocabulary here today")],
        "url string, text string",
    )
    out = incremental_update(old_corpus, old_edges, old_labels, new_pages, CFG, "s2")
    labels = {r["node"]: r["component"] for r in out["labels"].collect()}
    assert labels["a3"] == labels["a1"] == labels["a2"]
    assert labels["b1"] == labels["b2"]
    assert labels["b1"] != labels["a1"]
    assert labels["c1"] == "c1"
    assert labels["d1"] == "d1"
    # only cluster A was touched
    affected = {r["component"] for r in out["affected_components"].collect()}
    assert affected == {"a1"}


def test_incremental_recrawl_newest_wins(spark):
    """A re-crawled url with changed text must deterministically keep the
    NEW text (reference update-by-id semantics) — the old row is anti-joined
    away before the union, never left to a nondeterministic dropDuplicates."""
    old_corpus = spark.createDataFrame(
        [("u1", "old words entirely about apples bananas cherries dates elderberry fig grape"),
         ("u2", "stable second document with its own unrelated vocabulary tokens here")],
        "url string, text string",
    )
    old_edges = spark.createDataFrame(
        [], "src string, dst string, rules array<string>, session string"
    )
    old_labels = spark.createDataFrame(
        [("u1", "u1"), ("u2", "u2")], "node string, component string"
    )
    new_text = "u1 recrawled brand new body matching nothing previous crawl produced at all"
    new_pages = spark.createDataFrame([("u1", new_text)], "url string, text string")
    out = incremental_update(old_corpus, old_edges, old_labels, new_pages, CFG, "s2")
    # rerun twice — identical outputs (determinism), and no edge should link
    # u1's OLD content to anything
    l1 = sorted(map(tuple, out["labels"].collect()))
    out2 = incremental_update(old_corpus, old_edges, old_labels, new_pages, CFG, "s2")
    assert l1 == sorted(map(tuple, out2["labels"].collect()))
    assert out["edges"].count() == 0


def test_stateful_host_sessions(spark, tmp_path):
    """applyInPandasWithState custom operator: per-host sessionization.
    Host A has two bursts separated by > gap -> the first session closes
    in-stream ('gap'); tails stay in state (timeout-bounded)."""
    from datetime import datetime, timedelta

    from co_deduplicate_spark.streaming.stateful import stream_host_sessions

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(5):  # burst 1 on host-a: 5 pages, 1 min apart
        rows.append((f"https://host-a.org/p/{i}", t0 + timedelta(minutes=i)))
    for i in range(3):  # burst 2 on host-a: 2h later
        rows.append((f"https://host-a.org/q/{i}", t0 + timedelta(hours=2, minutes=i)))
    rows.append(("https://host-b.org/only", t0))  # single-page host stays open
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp").select(
        "url", "warc_ts",
        F.lit(bytearray(b"")).alias("html"), F.lit("x").alias("text"), F.lit("en").alias("lang"),
    )
    src = str(tmp_path / "sess_landing")
    pages.write.parquet(src)

    q = (
        stream_host_sessions(spark, src, PAGES_SCHEMA, gap="30 minutes")
        .writeStream.format("memory").queryName("host_sessions")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    out = {(r["host"], r["session_seq"]): r
           for r in spark.sql("SELECT * FROM host_sessions").collect()}
    key = ("host-a.org", 1)
    assert key in out, f"first host-a session should close in-stream, got {out}"
    r = out[key]
    assert r["n_pages"] == 5
    assert r["closed_by"] == "gap"
    assert (r["end_ts"] - r["start_ts"]).total_seconds() == 240
    # host-b: watermark (max event time - 1h = t0+1h02) passed its
    # last_ts+gap (t0+30m) -> closed by TIMEOUT in the drain batch
    rb = out[("host-b.org", 1)]
    assert rb["closed_by"] == "timeout" and rb["n_pages"] == 1
    # host-a burst 2 (last ts t0+2h02, timeout t0+2h32 > watermark) stays open
    assert ("host-a.org", 2) not in out


def test_stream_upsert_sink_exactly_once(spark, tmp_path):
    """Streaming landing -> exact dedup -> keyed UpsertTable via
    foreachBatch: final table equals the distinct-fingerprint set, and
    replaying the whole stream into the same table (simulating
    redelivery) is a no-op on table state — idempotent keyed MERGE turns
    at-least-once delivery into exactly-once table contents."""
    from co_deduplicate_spark.sources.upsert import UpsertTable
    from co_deduplicate_spark.streaming.stream_sink import upsert_sink_query

    src = str(tmp_path / "landing_sink")
    pages = synth_pages(spark, 120, seed=11)
    pages.write.parquet(src)
    tbl_dir = str(tmp_path / "deduped_table")

    def run_once(ckpt):
        deduped = stream_exact_dedup(spark, src, PAGES_SCHEMA).select("fp", "url")
        q = upsert_sink_query(deduped, tbl_dir, str(tmp_path / ckpt), key="fp")
        q.processAllAvailable()
        q.stop()

    run_once("ckpt1")
    table = UpsertTable(spark, tbl_dir, key="fp")
    got_fps = {r["fp"] for r in table.read().select("fp").collect()}
    want_fps = {
        r["fp"] for r in pages.select(
            F.md5(F.regexp_replace(F.lower("text"), "[^0-9a-z]+", "")).alias("fp")
        ).distinct().collect()
    }
    assert got_fps == want_fps
    v1 = table._manifest()["version"]

    # restart against the SAME checkpoint: availableNow finds no new data,
    # no batch fires, the table snapshot is untouched — THE exactly-once
    # property (offsets + idempotent MERGE)
    run_once("ckpt1")
    assert UpsertTable(spark, tbl_dir, key="fp")._manifest()["version"] == v1

    # full redelivery (fresh checkpoint, same data): the keyed MERGE keeps
    # the table at one row per key. Which url survives per fp is
    # legitimately dedup-order-dependent across independent runs, so the
    # invariant here is key-set + cardinality, not byte equality.
    run_once("ckpt2")
    table2 = UpsertTable(spark, tbl_dir, key="fp")
    assert {r["fp"] for r in table2.read().select("fp").collect()} == want_fps
    assert table2.read().count() == len(want_fps)
    assert table2._manifest()["version"] > v1  # new snapshot, same key set


def test_incremental_delta_signatures_skip_old(spark):
    """The delta-signature path must (a) produce labels identical to the
    full-recompute path and (b) actually SKIP the kernel for old urls —
    proven by poisoning an old url's stored signature and watching the
    poison ride through to the output signature table untouched."""
    from co_deduplicate_spark.operators.minhash import with_minhash

    texts = {
        "a1": "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi",
        "a2": "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi",
        "c1": "totally unrelated content about spark adaptive query execution and skew joins",
    }
    old_corpus = spark.createDataFrame(list(texts.items()), "url string, text string")
    old_edges = spark.createDataFrame(
        [("a1", "a2", ["minhash-lsh:k3"], "s1")],
        "src string, dst string, rules array<string>, session string",
    )
    old_labels = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1"), ("c1", "c1")], "node string, component string"
    )
    new_pages = spark.createDataFrame(
        [("a3", texts["a1"])], "url string, text string"
    )
    old_sigs = with_minhash(old_corpus, CFG, id_col="url", text_col="text")

    full = incremental_update(old_corpus, old_edges, old_labels, new_pages, CFG, "s2")
    delta = incremental_update(old_corpus, old_edges, old_labels, new_pages, CFG,
                               "s2", old_signatures=old_sigs)
    assert sorted(map(tuple, full["labels"].collect())) == \
        sorted(map(tuple, delta["labels"].collect()))

    sentinel = [F.lit(-12345).cast("long")] * CFG.num_perms
    poisoned = old_sigs.withColumn(
        "minhash",
        F.when(F.col("doc") == "c1", F.array(*sentinel)).otherwise(F.col("minhash")),
    )
    out = incremental_update(old_corpus, old_edges, old_labels, new_pages, CFG,
                             "s2", old_signatures=poisoned)
    sigs = {r["doc"]: r["minhash"] for r in out["signatures"].collect()}
    # old url: stored (poisoned) signature reused verbatim — kernel not run
    assert sigs["c1"][0] == -12345 and len(set(sigs["c1"])) == 1
    # new url: real kernel output
    assert sigs["a3"] is not None and len(set(sigs["a3"])) > 1
    # replaced-url hygiene: every url appears exactly once
    assert sorted(sigs) == ["a1", "a2", "a3", "c1"]


def test_incremental_recrawl_resigns_changed_url(spark):
    """A re-crawled url must be RE-SIGNED on the delta path (newest-wins):
    its stale stored signature is dropped before the union, so the output
    signature reflects the new text."""
    from co_deduplicate_spark.operators.minhash import with_minhash

    old_corpus = spark.createDataFrame(
        [("u1", "old words entirely about apples bananas cherries dates elderberry fig")],
        "url string, text string",
    )
    old_edges = spark.createDataFrame(
        [], "src string, dst string, rules array<string>, session string")
    old_labels = spark.createDataFrame([("u1", "u1")], "node string, component string")
    new_text = "replacement body with wholly different vocabulary tokens present today"
    new_pages = spark.createDataFrame([("u1", new_text)], "url string, text string")
    old_sigs = with_minhash(old_corpus, CFG, id_col="url", text_col="text")
    out = incremental_update(old_corpus, old_edges, old_labels, new_pages, CFG,
                             "s2", old_signatures=old_sigs)
    got = out["signatures"].filter(F.col("doc") == "u1").collect()
    assert len(got) == 1
    want = with_minhash(new_pages, CFG, id_col="url", text_col="text").first()["minhash"]
    assert got[0]["minhash"] == want


def test_incremental_inconsistent_old_labels_relabeled_wins(spark):
    """If the supplied old labels are internally inconsistent (a node under
    two components, one affected and one not), the RELABELED value must win
    deterministically — never partition-order roulette."""
    old_corpus = spark.createDataFrame(
        [("x", "first document about completely standalone topics nobody else covers"),
         ("y", "second document body that the new crawl will duplicate exactly verbatim")],
        "url string, text string",
    )
    old_edges = spark.createDataFrame(
        [], "src string, dst string, rules array<string>, session string")
    old_labels = spark.createDataFrame(
        [("x", "cA"), ("x", "cB"), ("y", "cA")], "node string, component string"
    )
    new_pages = spark.createDataFrame(
        [("n1", "second document body that the new crawl will duplicate exactly verbatim")],
        "url string, text string",
    )
    for _ in range(2):  # stable across repeated runs
        out = incremental_update(old_corpus, old_edges, old_labels, new_pages, CFG, "s2")
        rows = out["labels"].filter(F.col("node") == "x").collect()
        assert len(rows) == 1
        assert rows[0]["component"] == "x"  # relabeled (affected-scope) value


DUP_TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"


def test_run_incremental_session_stateful(spark, tmp_path):
    """Two crawl sessions through the UpsertTable-backed session driver:
    state persists between calls, session 2 runs on the DELTA signature
    path (proven by poisoning the stored signature table between sessions
    through the table's own keyed MERGE), and the per-session lineage
    records the delta size."""
    import json as _json
    from pathlib import Path

    from co_deduplicate_spark.sources.upsert import UpsertTable
    from co_deduplicate_spark.streaming.incremental import run_incremental_session

    wk = str(tmp_path / "sessions")
    s1_pages = spark.createDataFrame(
        [("a1", DUP_TEXT), ("a2", DUP_TEXT),
         ("c1", "totally unrelated content about adaptive query execution and skew")],
        "url string, text string",
    )
    out1 = run_incremental_session(spark, wk, s1_pages, CFG, "s1")
    l1 = {r["node"]: r["component"] for r in out1["labels"].collect()}
    assert l1["a1"] == l1["a2"] != l1["c1"]
    assert _json.loads((Path(wk) / "_CURRENT.json").read_text())["session"] == "s1"

    # poison c1's STORED signature via the table's own MERGE: session 2
    # must carry the poison through, proving old urls are never re-signed
    sigs_t = UpsertTable(spark, str(Path(wk) / "signatures"), key="doc")
    sentinel = [F.lit(-7).cast("long")] * CFG.num_perms
    sigs_t.upsert(
        sigs_t.read().filter(F.col("doc") == "c1")
        .withColumn("minhash", F.array(*sentinel))
    )

    s2_pages = spark.createDataFrame([("a3", DUP_TEXT)], "url string, text string")
    out2 = run_incremental_session(spark, wk, s2_pages, CFG, "s2")
    l2 = {r["node"]: r["component"] for r in out2["labels"].collect()}
    assert l2["a3"] == l2["a1"] == l2["a2"]
    assert sorted(l2) == ["a1", "a2", "a3", "c1"]
    sig2 = {r["doc"]: r["minhash"] for r in out2["signatures"].collect()}
    assert sig2["c1"][0] == -7          # stored signature reused, kernel skipped
    assert len(set(sig2["a3"])) > 1     # new url really signed
    assert _json.loads((Path(wk) / "_CURRENT.json").read_text())["session"] == "s2"
    lineage = [
        _json.loads(line) for line in (Path(wk) / "lineage.jsonl").read_text().splitlines()
    ]
    s2_rec = [r for r in lineage if r["stage"] == "session__s2"][-1]
    assert s2_rec["sig_delta_rows"] == 1
    assert s2_rec["corpus_rows"] == 4


def test_session_band_table_read_not_recomputed(spark, tmp_path):
    """The blocking stage must READ the persisted band table for old urls,
    never rebuild it from signatures: poisoning the stored band rows of
    BOTH old duplicates (signatures left intact) makes a matching new doc
    find no candidates — observable as a singleton label — and the poison
    rides through to the post-session stored band table."""
    from pathlib import Path

    from co_deduplicate_spark.sources.upsert import UpsertTable
    from co_deduplicate_spark.streaming.incremental import run_incremental_session

    wk = str(tmp_path / "band_sessions")
    s1_pages = spark.createDataFrame(
        [("a1", DUP_TEXT), ("a2", DUP_TEXT)], "url string, text string"
    )
    run_incremental_session(spark, wk, s1_pages, CFG, "s1")

    bands_t = UpsertTable(spark, str(Path(wk) / "bands"), key="doc")
    sentinel = [F.lit(-99).cast("long")] * CFG.lsh_bands
    bands_t.upsert(bands_t.read().withColumn("band_hashes", F.array(*sentinel)))

    s2_pages = spark.createDataFrame([("a3", DUP_TEXT)], "url string, text string")
    out2 = run_incremental_session(spark, wk, s2_pages, CFG, "s2")
    l2 = {r["node"]: r["component"] for r in out2["labels"].collect()}
    # a3's bands would match a1/a2's REAL bands (identical text, and the
    # stored signatures are untouched) — the only way a3 ends up alone is
    # that the probe ran against the stored (poisoned) band table
    assert l2["a3"] != l2["a1"]
    assert l2["a1"] == l2["a2"]  # s1 edge still carries the old cluster
    stored = {r["doc"]: list(r["band_hashes"])
              for r in bands_t.read().collect()}
    assert stored["a1"][0] == -99 and stored["a2"][0] == -99  # poison survived
    assert all(h != -99 for h in stored["a3"])                # delta really banded


def test_untouched_old_edges_ride_through_verbatim(spark):
    """Delta-scoped edge maintenance: an old pair not touched by any new
    edge must pass through WITHOUT re-aggregation — proven by a poisoned
    rules array (duplicate entries, reversed order) that any
    array_distinct/flatten re-aggregation would normalize away — while
    touched pairs get the per-pair rule union."""
    from co_deduplicate_spark.streaming.incremental import incremental_update

    old_corpus = spark.createDataFrame(
        [("a1", DUP_TEXT), ("a2", DUP_TEXT),
         ("z1", "zeta document body nothing else resembles this vocabulary at all"),
         ("z2", "zeta document body nothing else resembles this vocabulary at all")],
        "url string, text string",
    )
    poison_rules = ["z-rule", "z-rule", "a-rule"]  # dupes + order = tamper-evident
    old_edges = spark.createDataFrame(
        [("a1", "a2", ["minhash-lsh:k3"], "s1"), ("z1", "z2", poison_rules, "s1")],
        "src string, dst string, rules array<string>, session string",
    )
    old_labels = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1"), ("z1", "z1"), ("z2", "z1")],
        "node string, component string",
    )
    new_pages = spark.createDataFrame([("a3", DUP_TEXT)], "url string, text string")
    out = incremental_update(old_corpus, old_edges, old_labels, new_pages, CFG, "s2")
    edges = {(r["src"], r["dst"]): (list(r["rules"]), r["session"])
             for r in out["edges"].collect()}
    # untouched pair: poisoned rules array byte-identical, session stamp kept
    assert edges[("z1", "z2")] == (poison_rules, "s1")
    # and it is NOT in the delta the stateful caller would persist
    touched = {(r["src"], r["dst"]) for r in out["touched_edges"].collect()}
    assert ("z1", "z2") not in touched
    assert ("a1", "a3") in touched or ("a2", "a3") in touched


def test_touched_pair_stamped_with_current_session(spark):
    """A pair touched by a new edge carries the current session's stamp,
    as the reference stamps it (painless updateDuplicatesGraph 229-231) —
    not the string-largest of its old and new stamps ("s9" > "s10")."""
    old_corpus = spark.createDataFrame([("a1", DUP_TEXT), ("a3", DUP_TEXT)],
                                       "url string, text string")
    old_edges = spark.createDataFrame(
        [("a1", "a3", ["minhash-lsh:k3"], "s9")],
        "src string, dst string, rules array<string>, session string",
    )
    old_labels = spark.createDataFrame([("a1", "a1"), ("a3", "a1")],
                                       "node string, component string")
    new_pages = spark.createDataFrame([("a3", DUP_TEXT)], "url string, text string")
    out = incremental_update(old_corpus, old_edges, old_labels, new_pages, CFG, "s10")
    touched = {(r["src"], r["dst"]): r["session"] for r in out["touched_edges"].collect()}
    assert touched == {("a1", "a3"): "s10"}


def test_incremental_old_bands_require_old_signatures(spark):
    """Band-table reuse without signature reuse would double every old
    doc's band rows (kept + recomputed-as-delta) — the mix is rejected."""
    import pytest as _pytest

    from co_deduplicate_spark.streaming.incremental import incremental_update

    empty_pages = spark.createDataFrame([], "url string, text string")
    empty_edges = spark.createDataFrame(
        [], "src string, dst string, rules array<string>, session string"
    )
    empty_labels = spark.createDataFrame([], "node string, component string")
    bands = spark.createDataFrame([], "doc string, band_id int, band_hash long")
    with _pytest.raises(ValueError, match="old_bands requires old_signatures"):
        incremental_update(
            empty_pages, empty_edges, empty_labels, empty_pages, CFG, "s1",
            old_signatures=None, old_bands=bands,
        )


def test_do_the_job_single_record_lifecycle(spark, tmp_path):
    """The reference's doTheJob parity (index.js:9-24): record-at-a-time
    arrivals against persistent state — validation hard-error, dedup
    short-circuit that still labels, duplicate discovery with rule
    provenance, cluster membership, and idempotent replay."""
    import pytest as _pytest

    from co_deduplicate_spark.streaming.incremental import do_the_job

    wk = str(tmp_path / "dtj")
    with _pytest.raises(ValueError, match="non-empty record id"):
        do_the_job(spark, wk, "", "text", CFG)

    r1 = do_the_job(spark, wk, "a1", DUP_TEXT, CFG)
    assert r1["is_deduplicable"] and r1["duplicates"] == []
    assert r1["cluster_members"] == ["a1"]  # singleton until a match arrives

    r2 = do_the_job(spark, wk, "a2", DUP_TEXT, CFG)
    assert [d["url"] for d in r2["duplicates"]] == ["a1"]
    assert r2["duplicates"][0]["rules"] == [f"minhash-lsh:k{CFG.shingle_k}"]
    assert r2["cluster_members"] == ["a1", "a2"]

    # short-circuit: token-less text (punct-only → NULL signature) is not
    # deduplicable but IS labeled — the reference's isDeduplicable=false
    # path still runs the graph update (index.js:45-49)
    r3 = do_the_job(spark, wk, "tiny", "?!...", CFG)
    assert not r3["is_deduplicable"]
    assert r3["duplicates"] == [] and r3["cluster_members"] == ["tiny"]

    # idempotent replay: same record, same derived session stamp
    r2b = do_the_job(spark, wk, "a2", DUP_TEXT, CFG)
    assert r2b == r2
    assert not r2["truncated"]

    # P12 cap (the reference's size:1000): summary lists truncate at
    # max_hits, lexicographically-first kept, persisted state untouched
    r4 = do_the_job(spark, wk, "a3", DUP_TEXT, CFG, max_hits=1)
    assert r4["truncated"]
    assert r4["duplicates"] == [
        {"url": "a1", "rules": [f"minhash-lsh:k{CFG.shingle_k}"],
         "session": r4["session"]}
    ]
    assert r4["cluster_members"] == ["a1"]
    r5 = do_the_job(spark, wk, "a3", DUP_TEXT, CFG)  # uncapped re-read
    assert r5["cluster_members"] == ["a1", "a2", "a3"] and not r5["truncated"]


def test_session_config_change_gate(spark, tmp_path):
    """A config/kernel-generation change must never silently mix stored
    signatures with new-generation delta signatures: the pointer gate
    raises by default; reset_on_config_change=True drops the derived
    tables and rebuilds from the stored raw corpus (full recompute), with
    old-vs-new duplicates still found."""
    from dataclasses import replace

    import pytest as _pytest

    from co_deduplicate_spark.streaming.incremental import run_incremental_session

    wk = str(tmp_path / "cfg_sessions")
    s1_pages = spark.createDataFrame(
        [("a1", DUP_TEXT), ("a2", DUP_TEXT)], "url string, text string"
    )
    run_incremental_session(spark, wk, s1_pages, CFG, "s1")

    cfg2 = replace(CFG, minhash_kernel="999")
    s2_pages = spark.createDataFrame([("a3", DUP_TEXT)], "url string, text string")
    with _pytest.raises(RuntimeError, match="generations"):
        run_incremental_session(spark, wk, s2_pages, cfg2, "s2")

    out = run_incremental_session(spark, wk, s2_pages, cfg2, "s2",
                                  reset_on_config_change=True)
    l2 = {r["node"]: r["component"] for r in out["labels"].collect()}
    assert l2["a3"] == l2["a1"] == l2["a2"]  # rebuilt generation still clusters
    # and a THIRD session under cfg2 proceeds on the delta path again
    s3_pages = spark.createDataFrame([("a4", DUP_TEXT)], "url string, text string")
    out3 = run_incremental_session(spark, wk, s3_pages, cfg2, "s3")
    l3 = {r["node"]: r["component"] for r in out3["labels"].collect()}
    assert l3["a4"] == l3["a1"]


def test_session_state_merged_not_rewritten(spark, tmp_path):
    """Per-session state I/O is O(delta buckets): after session 2, every
    corpus bucket that contains no session-2 url still points at its
    session-1 version directory with byte-identical files — carried by
    manifest reference, not rewritten (the updateByQuery economics,
    documentsManager.js:309-330)."""
    import hashlib
    from pathlib import Path

    from co_deduplicate_spark.sources.upsert import UpsertTable
    from co_deduplicate_spark.streaming.incremental import run_incremental_session

    wk = str(tmp_path / "merge_sessions")
    s1_pages = spark.createDataFrame(
        [(f"u{i}", f"document number {i} with entirely distinct vocabulary token{i}")
         for i in range(24)],
        "url string, text string",
    )
    run_incremental_session(spark, wk, s1_pages, CFG, "s1", n_buckets=8)
    corpus_t = UpsertTable(spark, str(Path(wk) / "corpus"), key="url")
    m1 = corpus_t._manifest()

    def file_hashes(rel):
        d = Path(corpus_t.dir) / rel
        return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
                for p in sorted(d.glob("*.parquet"))}

    before = {b: file_hashes(rel) for b, rel in m1["buckets"].items()}
    s2_pages = spark.createDataFrame(
        [("v_new", "a brand new session two page unlike anything else stored")],
        "url string, text string",
    )
    run_incremental_session(spark, wk, s2_pages, CFG, "s2")
    m2 = corpus_t._manifest()
    untouched = [b for b in m1["buckets"] if m2["buckets"][b] == m1["buckets"][b]]
    # 1 new url touches exactly 1 of 8 buckets; the other 7 carry forward
    assert len(untouched) >= len(m1["buckets"]) - 1 and untouched
    for b in untouched:
        assert file_hashes(m2["buckets"][b]) == before[b]  # bytes untouched
