"""CatalogAdapter — Iceberg-shaped table catalog over parquet + JSON manifest.

The north_rule calls for index state in Iceberg with per-partition lineage
and checkpoint manifests. This sandbox's PySpark has no Iceberg runtime jar,
so this adapter provides the same *semantics* on plain parquet:

- a table "exists" only once its manifest entry is committed (writes go to a
  ``_tmp.<table>`` directory, then an atomic rename + manifest commit — a
  killed build never leaves a half-table that resume would trust);
- incremental tables commit one manifest entry per partition batch with row
  counts and wall time (``append_batch``), so a restarted build anti-joins
  the completed batches and recomputes nothing that finished
  (cf. reference's absence of any resume: a killed indexer.py run restarts
  from zero);
- ``snapshots`` records every commit with a monotonically increasing id,
  mirroring Iceberg's snapshot log.

Swapping in real Iceberg is confined to this module (df.writeTo(...) /
spark.table(...)).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import warnings

from pyspark.sql import DataFrame, SparkSession


#: session conf key naming the Iceberg namespace (e.g. ``ice.search_index``)
#: that CatalogAdapter should write through. Unset → parquet+manifest mode.
ICEBERG_NAMESPACE_CONF = "spark.searchengine.iceberg.namespace"

#: Iceberg sizes output files in BYTES (write.target-file-size-bytes);
#: the parquet branch's ``max_records_per_file`` knob has no direct Iceberg
#: equivalent, so Iceberg writes use this fixed byte target instead.
ICEBERG_TARGET_FILE_BYTES = 64 * 1024 * 1024

#: batch ids land in directory names and (Iceberg mode) interpolated SQL
#: predicates — restrict them to filesystem/SQL-inert characters.
_BATCH_ID_RE = re.compile(r"^[A-Za-z0-9_.-]+$")


def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class CatalogAdapter:
    MANIFEST = "_manifest.json"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- Iceberg routing ---------------------------------------------------
    def _iceberg_ns(self, spark: SparkSession) -> str | None:
        """The Iceberg namespace to write through, or None for parquet mode.

        Enabled only when BOTH hold: the session names a namespace under
        ``ICEBERG_NAMESPACE_CONF`` (catalog registered via
        ``spark.sql.catalog.<name>`` confs as usual) and the Iceberg
        runtime class actually loads. This sandbox ships no Iceberg jar,
        so local runs always take the parquet+manifest branch — the
        sandbox-bounded stand-in with the same snapshot/lineage semantics
        (see module docstring); a cluster with the jar flips over without
        code changes.
        """
        try:
            ns = spark.conf.get(ICEBERG_NAMESPACE_CONF, None)
        except Exception:
            ns = None
        if not ns:
            return None
        return ns if iceberg_runtime_available(spark) else None

    def _iceberg_ident(self, spark: SparkSession, name: str) -> str | None:
        ns = self._iceberg_ns(spark)
        return f"{ns}.{name}" if ns else None

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, self.MANIFEST)

    def _load(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"tables": {}, "snapshots": [], "build": None}
        with open(p) as f:
            return json.load(f)

    def _commit(self, manifest: dict, op: str, table: str | None = None,
                extra: dict | None = None) -> None:
        snap = {
            "snapshot_id": len(manifest["snapshots"]) + 1,
            "ts": time.time(),
            "op": op,
            "table": table,
        }
        if extra:
            snap.update(extra)
        manifest["snapshots"].append(snap)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path())

    # -- table ops ---------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def has_table(self, name: str) -> bool:
        return name in self._load()["tables"]

    def write_table(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> None:
        ident = self._iceberg_ident(df.sparkSession, name)
        if ident:
            writer = df.writeTo(ident).using("iceberg").tableProperty(
                "write.target-file-size-bytes", str(ICEBERG_TARGET_FILE_BYTES)
            )
            if partition_by:
                from pyspark.sql.functions import col

                writer = writer.partitionedBy(
                    col(partition_by[0]), *[col(c) for c in partition_by[1:]]
                )
            writer.createOrReplace()
            manifest = self._load()
            manifest["tables"][name] = {
                "path": self.table_path(name),
                "iceberg_ident": ident,
                "partition_by": partition_by or [],
                "batches": [],
            }
            self._commit(manifest, "create", name)
            return
        tmp = os.path.join(self.root, f"_tmp.{name}")
        final = self.table_path(name)
        shutil.rmtree(tmp, ignore_errors=True)
        writer = df.write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
        manifest = self._load()
        manifest["tables"][name] = {
            "path": final,
            "partition_by": partition_by or [],
            "batches": [],
        }
        self._commit(manifest, "create", name)

    def read_table(self, spark: SparkSession, name: str,
                   schema=None) -> DataFrame:
        """The committed table. A parquet table's files are read through
        ``schema`` when given (a field a file lacks reads as null),
        else through the schema Spark infers; an Iceberg table always has
        its own."""
        entry = self._load()["tables"].get(name)
        if entry is None:
            raise FileNotFoundError(f"table {name} not committed in {self.root}")
        if entry.get("iceberg_ident"):
            return spark.table(entry["iceberg_ident"])
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.table_path(name))

    # -- batch (per-partition lineage) ops ---------------------------------
    def completed_batches(self, name: str) -> list[str]:
        t = self._load()["tables"].get(name)
        return [b["batch_id"] for b in (t or {}).get("batches", [])]

    def batch_entries(self, name: str) -> list[dict]:
        """Full manifest entries (lineage included) for a table's batches."""
        t = self._load()["tables"].get(name)
        return list((t or {}).get("batches", []))

    def append_batch(
        self,
        df: DataFrame,
        name: str,
        batch_id: str,
        partition_by: list[str] | None = None,
        metrics: dict | None = None,
    ) -> None:
        """Append one batch under ``<table>/batch=<batch_id>`` and commit it.

        A batch directory without a manifest entry (crash mid-write) is
        overwritten on retry — exactly-once at batch granularity.
        """
        if not _BATCH_ID_RE.match(batch_id):
            raise ValueError(
                f"batch_id {batch_id!r} must match {_BATCH_ID_RE.pattern} "
                "(it names a directory and, in Iceberg mode, a SQL predicate)"
            )
        manifest = self._load()
        existed = name in manifest["tables"]
        t = manifest["tables"].setdefault(
            name,
            {"path": self.table_path(name), "partition_by": partition_by or [],
             "batches": []},
        )
        if any(b["batch_id"] == batch_id for b in t["batches"]):
            return
        t0 = time.time()
        ident = self._iceberg_ident(df.sparkSession, name)
        if ident:
            from pyspark.sql.functions import lit

            spark = df.sparkSession
            tagged = df.withColumn("batch", lit(batch_id))
            if not existed:
                tagged.writeTo(ident).using("iceberg").createOrReplace()
            else:
                # idempotence under replay: a crash after the Iceberg
                # commit but before the manifest commit must not double
                # the batch on retry
                spark.sql(f"DELETE FROM {ident} WHERE batch = '{batch_id}'")
                tagged.writeTo(ident).append()
            t["iceberg_ident"] = ident
            n_rows = (
                spark.table(ident).where(f"batch = '{batch_id}'").count()
            )
            entry = {"batch_id": batch_id, "rows": n_rows,
                     "wall_sec": time.time() - t0}
            if metrics:
                entry.update(metrics)
            t["batches"].append(entry)
            self._commit(manifest, "append_batch", name,
                         {"batch_id": batch_id})
            return
        dest = os.path.join(self.table_path(name), f"batch={batch_id}")
        tmp = os.path.join(self.root, f"_tmp.{name}.{batch_id}")
        shutil.rmtree(tmp, ignore_errors=True)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        n_rows = 0
        # row count from parquet footers (cheap, no second job over data)
        import pyarrow.parquet as pq

        for dirpath, _dirs, files in os.walk(tmp):
            for fn in files:
                if fn.endswith(".parquet"):
                    n_rows += pq.ParquetFile(os.path.join(dirpath, fn)).metadata.num_rows
        os.makedirs(self.table_path(name), exist_ok=True)
        shutil.rmtree(dest, ignore_errors=True)
        os.replace(tmp, dest)
        entry = {"batch_id": batch_id, "rows": n_rows,
                 "wall_sec": time.time() - t0}
        if metrics:
            entry.update(metrics)
        t["batches"].append(entry)
        self._commit(manifest, "append_batch", name, {"batch_id": batch_id})

    def finalize_batched_table(self, name: str) -> None:
        """Mark a batch-built table complete (resume skips it entirely)."""
        manifest = self._load()
        manifest["tables"].setdefault(name, {"path": self.table_path(name),
                                             "partition_by": [], "batches": []})
        manifest["tables"][name]["complete"] = True
        self._commit(manifest, "finalize", name)

    def is_complete(self, name: str) -> bool:
        t = self._load()["tables"].get(name)
        return bool(t and t.get("complete"))

    # -- table/index properties (Iceberg table-properties analog) ----------
    def set_properties(self, props: dict) -> None:
        manifest = self._load()
        manifest.setdefault("properties", {}).update(props)
        self._commit(manifest, "set_properties")

    def properties(self) -> dict:
        return self._load().get("properties", {})

    # -- build metadata ----------------------------------------------------
    def snapshot_count(self) -> int:
        return len(self._load()["snapshots"])

    def finish_build(self, metrics: dict) -> None:
        manifest = self._load()
        manifest["build"] = metrics
        self._commit(manifest, "finish_build")

    def drop_table(self, name: str) -> None:
        """Remove one table (data + manifest entry); no-op if absent.

        Used by compaction to invalidate derived tables before re-deriving
        them from an appended-to base table.
        """
        manifest = self._load()
        if name not in manifest["tables"]:
            return
        ident = manifest["tables"][name].get("iceberg_ident")
        if ident:
            spark = SparkSession.getActiveSession()
            if spark is not None:
                spark.sql(f"DROP TABLE IF EXISTS {ident}")
            else:
                warnings.warn(
                    f"dropping manifest entry for {name} but no active "
                    f"SparkSession — Iceberg table {ident} is left orphaned",
                    stacklevel=2,
                )
        shutil.rmtree(self.table_path(name), ignore_errors=True)
        del manifest["tables"][name]
        self._commit(manifest, "drop", name)

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
