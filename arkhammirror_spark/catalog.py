"""Storage seam: parquet-with-manifest snapshots with Iceberg's
commit/resume semantics.

There is no Iceberg switch: every run commits through
``ParquetSnapshotCatalog``. A 10^12-row deployment would write
``df.writeTo("catalog.db.table").append()`` into Iceberg (snapshot
isolation, partition evolution, audit branch); this class implements the
minimal contract the pipeline needs of it on plain parquet:

- a *snapshot* is ``<root>/<table>/snapshot=<id>/`` written atomically
  (parquet + `_MANIFEST.json` committed last; a snapshot without a manifest
  is invisible). The manifest carries the row count, observed on the write
  itself (no re-read), and the read schema: every reader passes it to
  ``spark.read.schema`` so opening a snapshot starts no inference job,
- a *run* spans one snapshot per table; the run is committed by a single
  ``_runs/<id>.json`` manifest written AFTER every table snapshot of that
  run. Readers and resume key off committed runs, so a crash between table
  writes leaves only an invisible orphan run (re-extracted next time),
  never a half-committed increment (Iceberg analogue: one multi-table
  transaction / WAP commit),
- ``read_table`` unions the snapshots of committed runs (append semantics);
  ``read_table_latest`` returns only the newest committed run's snapshot
  (replace semantics — for derived aggregates recomputed per run).

Resume-from-checkpoint = anti-join against the union of committed runs'
keys.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType


@dataclass
class ParquetSnapshotCatalog:
    root: str

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _snap_dir(self, table: str, snapshot_id: str) -> str:
        return os.path.join(self._table_dir(table), f"snapshot={snapshot_id}")

    def write_snapshot(self, df: DataFrame, table: str, snapshot_id: str) -> dict:
        path = self._snap_dir(table, snapshot_id)
        # the row count rides on the write job; Spark reports it even when
        # AQE prunes an empty plan, so `get` never waits on a missing metric
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        observed.write.mode("overwrite").parquet(path)
        manifest = {
            "table": table,
            "snapshot_id": snapshot_id,
            "rows": obs.get["rows"],
            "committed_at_epoch": time.time(),
            # file sources read every field as nullable, so the writer's
            # schema reads back exactly as inference would see it
            "schema": df.schema.jsonValue(),
        }
        tmp = os.path.join(path, "_MANIFEST.json.tmp")
        final = os.path.join(path, "_MANIFEST.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, final)  # atomic commit point
        return manifest

    # -- run-level commit (one manifest per multi-table transaction) --------

    def _runs_dir(self) -> str:
        return os.path.join(self.root, "_runs")

    def commit_run(self, run_id: str, tables: list[str]) -> dict:
        """Atomic run commit point: written only after every table snapshot
        of the run is on disk."""
        os.makedirs(self._runs_dir(), exist_ok=True)
        manifest = {
            "run_id": run_id,
            "tables": sorted(tables),
            "committed_at_epoch": time.time(),
        }
        tmp = os.path.join(self._runs_dir(), f"{run_id}.json.tmp")
        final = os.path.join(self._runs_dir(), f"{run_id}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, final)
        return manifest

    def committed_runs(self) -> list[dict]:
        rdir = self._runs_dir()
        if not os.path.isdir(rdir):
            return []
        out = []
        for name in sorted(os.listdir(rdir)):
            if name.endswith(".json"):
                with open(os.path.join(rdir, name)) as fh:
                    out.append(json.load(fh))
        out.sort(key=lambda m: m["committed_at_epoch"])
        return out

    def _read(self, spark: SparkSession, table: str, snapshot_ids: list[str]) -> DataFrame:
        """Read snapshots with the newest one's manifest schema: no footer
        inference, hence no Spark job, to open a table."""
        newest = self._snap_dir(table, snapshot_ids[-1])
        with open(os.path.join(newest, "_MANIFEST.json")) as fh:
            schema = StructType.fromJson(json.load(fh)["schema"])
        return spark.read.schema(schema).parquet(
            *[self._snap_dir(table, s) for s in snapshot_ids]
        )

    def read_snapshot(
        self, spark: SparkSession, table: str, snapshot_id: str
    ) -> DataFrame:
        """Read one committed snapshot (this run's contribution only)."""
        return self._read(spark, table, [snapshot_id])

    def _committed_run_snaps(self, table: str) -> list[str]:
        """Snapshot ids of `table` that belong to a COMMITTED run, in run
        commit order. Orphan snapshots (run crashed before its run manifest)
        are invisible."""
        return [m["run_id"] for m in self.committed_runs() if table in m["tables"]]

    def read_table(self, spark: SparkSession, table: str) -> DataFrame | None:
        snaps = self._committed_run_snaps(table)
        if not snaps:
            return None
        return self._read(spark, table, snaps)

    def read_table_latest(self, spark: SparkSession, table: str) -> DataFrame | None:
        """Newest committed run's snapshot only — replace semantics for
        derived aggregates (entities/edges) recomputed in full per run."""
        snaps = self._committed_run_snaps(table)
        if not snaps:
            return None
        return self._read(spark, table, snaps[-1:])
