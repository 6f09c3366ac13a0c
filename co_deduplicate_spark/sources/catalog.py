"""Stage-table catalog: checkpointed, idempotently-resumable table IO.

Replaces the reference's optimistic-concurrency machinery — version-conflict
retry (/root/reference/src/documentsManager.js:336-356,
helpers/esHelpers/client.js:18-23) and ``refresh:true`` read-your-writes
(documentsManager.js:65-76) — with determinism + snapshot-style commits:
every stage writes a table plus a manifest stamped with the config hash;
a restarted job skips stages whose manifest matches (SURVEY.md §7 step 6).

Backends (selected by the ``iceberg_db`` constructor arg): ``USING
iceberg`` tables in a catalog namespace when the runtime jars are on the
classpath (production — snapshot isolation per stage commit), plain
parquet directories otherwise (this sandbox); JSON manifests drive the
resume protocol either way. The write protocol is rename-free and
crash-safe: data lands/commits first, the manifest is written last, and
readers treat a missing/mismatched manifest as "stage not done".
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MANIFEST_NAME = "_STAGE_MANIFEST.json"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class StageCatalog:
    """Directory-of-tables catalog with per-stage manifests + lineage log.

    ``iceberg_db``: a catalog namespace (e.g. ``prod.dedup_run7``). When
    given, stage DATA is written as ``USING iceberg`` tables in that
    namespace (``<iceberg_db>.<stage>``) instead of parquet directories —
    snapshot isolation per stage commit — while the tiny JSON manifests
    (config-hash resume protocol + lineage log) stay on ``base_dir``
    either way. Requires the Iceberg runtime on the classpath;
    construction raises if it is absent (no silent fallback). Exercised
    by a conditional pytest, skipped where the jars are missing (this
    sandbox)."""

    def __init__(self, spark: SparkSession, base_dir: str, config_hash: str,
                 iceberg_db: str | None = None):
        self.spark = spark
        self.base = Path(base_dir)
        self.config_hash = config_hash
        if iceberg_db is not None and not iceberg_available(spark):
            raise RuntimeError(
                f"iceberg_db={iceberg_db!r} requested but the Iceberg Spark "
                "runtime is not on the classpath"
            )
        self.iceberg_db = iceberg_db
        self.base.mkdir(parents=True, exist_ok=True)

    def _table_dir(self, name: str) -> Path:
        return self.base / name

    def _manifest_path(self, name: str) -> Path:
        return self._table_dir(name) / MANIFEST_NAME

    def is_complete(self, name: str) -> bool:
        p = self._manifest_path(name)
        if not p.exists():
            return False
        try:
            m = json.loads(p.read_text())
        except (OSError, json.JSONDecodeError):
            return False
        # a manifest without the written schema predates schema-typed
        # reads: the stage recomputes rather than infer a schema
        return (m.get("config_hash") == self.config_hash and m.get("status") == "complete"
                and "schema" in m)

    def _partition_profile(self, path: str) -> dict:
        """Per-partition lineage from parquet footers (one output file per
        write partition) — row counts + byte sizes without a Spark job.
        The skew ratio (max/mean rows) makes a hot partition visible in the
        manifest the moment a stage lands, which is the observability the
        100 TB deployment needs before a downstream shuffle ever runs."""
        import pyarrow.parquet as pq

        files = sorted(Path(path).glob("*.parquet"))
        per_part = []
        for f in files:
            per_part.append(
                {"file": f.name, "rows": pq.ParquetFile(str(f)).metadata.num_rows,
                 "bytes": f.stat().st_size}
            )
        rows = [p["rows"] for p in per_part]
        total = sum(rows)
        profile = {
            "n_partitions": len(per_part),
            "rows_total": total,
            "rows_max": max(rows) if rows else 0,
            "rows_min": min(rows) if rows else 0,
            "skew_max_over_mean": round(max(rows) * len(rows) / total, 3)
            if total else 0.0,
        }
        # full detail only while it stays cheap to store; the summary is
        # always present (a 100k-partition table keeps manifests bounded)
        if len(per_part) <= 256:
            profile["partitions"] = per_part
        return profile

    def write(self, name: str, df: DataFrame,
              counters: Callable[[], dict] | None = None) -> DataFrame:
        """Write a stage table + manifest; returns the re-read DataFrame so
        downstream stages consume the materialized (checkpointed) data, not
        the live lineage. On the parquet backend, row count and the
        per-partition profile come from the parquet footers (no extra
        count() job), and the re-read takes the written schema, which the
        manifest stores for later reads (no schema-inference job); on
        Iceberg the count comes from the committed snapshot's summary
        (also job-free). ``counters`` is called once the data has landed —
        for counters the write job itself observes (``DataFrame.observe``)."""
        schema = df.schema
        if self.iceberg_db is not None:
            full = f"{self.iceberg_db}.{name}"
            df.writeTo(full).using("iceberg").createOrReplace()
            out = self.spark.table(full)
            rows = int(
                self.spark.sql(
                    f"SELECT summary['total-records'] AS r FROM "
                    f"{full}.snapshots ORDER BY committed_at DESC LIMIT 1"
                ).first()["r"]
            )
            profile = {"backend": "iceberg", "rows_total": rows}
        else:
            path = str(self._table_dir(name))
            df.write.mode("overwrite").parquet(path)
            profile = self._partition_profile(path)
            out = self.spark.read.schema(schema).parquet(path)
        manifest = {
            "table": name,
            "config_hash": self.config_hash,
            "status": "complete",
            "rows": profile["rows_total"],
            "partition_profile": profile,
            "counters": counters() if counters else {},
            "schema": schema.json(),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._table_dir(name).mkdir(parents=True, exist_ok=True)
        self._manifest_path(name).write_text(json.dumps(manifest, indent=2))
        return out

    def read(self, name: str) -> DataFrame:
        if self.iceberg_db is not None:
            return self.spark.table(f"{self.iceberg_db}.{name}")
        schema = T.StructType.fromJson(json.loads(self.manifest(name)["schema"]))
        return self.spark.read.schema(schema).parquet(str(self._table_dir(name)))

    def partition_summary(self, name: str) -> dict:
        """Compact per-partition lineage fields for log_lineage records."""
        prof = self.manifest(name)["partition_profile"]
        return {k: prof[k] for k in ("n_partitions", "rows_max", "skew_max_over_mean")
                if k in prof}

    def manifest(self, name: str) -> dict:
        return json.loads(self._manifest_path(name).read_text())

    def log_lineage(self, stage: str, part_counters: dict) -> None:
        """Append a lineage record (FIXTURES.md §3 lineage schema)."""
        rec = {
            "stage": stage,
            "config_hash": self.config_hash,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            **part_counters,
        }
        lineage = self.base / "lineage.jsonl"
        with lineage.open("a") as f:
            f.write(json.dumps(rec) + "\n")
