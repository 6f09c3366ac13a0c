"""Structured-Streaming ingest dedup.

The reference is an online record-at-a-time service (one ``doTheJob`` per
arriving record, /root/reference/index.js:9-24). Its streaming analogue in
Spark: a ``readStream`` over the landing area, exact-key dedup with
bounded state, then append to the corpus table; the batch LSH/CC pipeline
(plans/pipeline.py) runs per session over the deduped corpus. Streaming
handles the *exact* tier (cheap, per-record); near-dup clustering stays
batch — same split the reference makes between per-record rule matching
and the offline co-formatter enrichments (README.md:19).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_stats import fingerprint_expr


def stream_exact_dedup(
    spark: SparkSession,
    source_dir: str,
    schema,
    watermark: str = "1 hour",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` evicts a fingerprint's dedup state
    once the watermark passes its event time, so state is O(rows within
    the watermark window), not O(all fingerprints ever seen). Two
    consequences, stated plainly: duplicates arriving within the watermark
    window are dropped; a re-crawl arriving AFTER the watermark has passed
    the original is admitted as a new row — the batch pipeline reconciles
    those. (A plain ``dropDuplicates(["fp"])`` would keep every
    fingerprint forever: the watermark only bounds dedup state when it can
    age entries out, which requires the within-watermark variant or the
    event-time column in the dedup key.)
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.withColumn("fp", fingerprint_expr(F.col(text_col)))
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )
