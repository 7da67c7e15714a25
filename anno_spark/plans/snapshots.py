"""Snapshot store: per-stage table commits + manifest for resume.

Models Iceberg's snapshot semantics on top of plain parquet so the
pipeline runs in this jar-less sandbox unchanged: each stage writes its
output table to ``<root>/<stage>/<snapshot_id>/`` and then atomically
records {stage → snapshot_id, rows, files, schema} in ``manifest.json``:
like Iceberg metadata, what the one write produced — each data file's
row count from the parquet footers just written (no Spark job; ``rows``
is their sum) and the written schema, which ``load`` reads with (no
inference job). A re-run reads the committed snapshot instead of
recomputing — the "resume from the last committed snapshot" contract.

The write is made atomic the same way Iceberg's metadata swap is: data
lands under a snapshot directory first, every footer is read (which
also proves each file complete), and the manifest pointer flips last
(os.replace on a temp file).
"""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def written_files(path: str) -> dict[str, int]:
    """{file: rows} for every parquet data file under ``path`` (names
    relative to it, sorted), each count read from the file's footer on
    the driver. A file the writer left incomplete has no footer and
    raises."""
    import pyarrow.parquet as pq

    names = sorted(glob.glob("**/*.parquet", root_dir=path, recursive=True))
    return {n: pq.read_metadata(os.path.join(path, n)).num_rows for n in names}


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.manifest_path = os.path.join(root, "manifest.json")

    # -- manifest ----------------------------------------------------------
    def _read_manifest(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"stages": {}}
        with open(self.manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic pointer flip

    def committed(self, stage: str) -> dict | None:
        return self._read_manifest()["stages"].get(stage)

    def invalidate(self, stage: str) -> None:
        m = self._read_manifest()
        m["stages"].pop(stage, None)
        self._write_manifest(m)

    # -- table IO ----------------------------------------------------------
    def commit(
        self, stage: str, df: DataFrame, bucket_by: tuple[int, str] | None = None
    ) -> dict:
        """Write df as the new snapshot of <stage> and commit it.

        ``bucket_by=(n, col)`` lays the files out like Iceberg's
        ``bucket(n, col)`` partition transform (G5: nodes/edges by
        canonical entity id): one directory per pmod(xxhash64(col), n)
        value. Only the on-disk layout: :meth:`load` drops the
        ``bucket`` column and a directory-partitioned parquet carries no
        bucket spec, so a join on the re-read table still shuffles.
        """
        from pyspark.sql import functions as F

        snapshot_id = uuid.uuid4().hex[:12]
        out = os.path.join(self.root, stage, snapshot_id)
        if bucket_by is None:
            writer_df, w = df, df.write
        else:
            n, col = bucket_by
            writer_df = df.withColumn("bucket", F.pmod(F.xxhash64(col), F.lit(n)))
            w = writer_df.write.partitionBy("bucket")
        w.mode("overwrite").parquet(out)

        files = written_files(out)
        m = self._read_manifest()
        entry = {
            "snapshot_id": snapshot_id,
            "path": out,
            "rows": sum(files.values()),
            "files": files,
            "schema": writer_df.schema.json(),
        }
        m["stages"][stage] = entry
        # Iceberg-style snapshot log: every commit is retained (data dirs
        # are uuid-addressed and never overwritten), so any older
        # snapshot stays readable and the pointer can roll back to it.
        m.setdefault("history", {}).setdefault(stage, []).append(dict(entry))
        self._write_manifest(m)
        return entry

    def history(self, stage: str) -> list[dict]:
        """All committed snapshots of <stage>, oldest first."""
        return self._read_manifest().get("history", {}).get(stage, [])

    def rollback(self, stage: str, snapshot_id: str) -> dict:
        """Flip the stage pointer to an earlier snapshot (the Iceberg
        rollback semantic): subsequent loads/resumes read that snapshot.
        The newer snapshot's data stays on disk and in the history."""
        m = self._read_manifest()
        for entry in m.get("history", {}).get(stage, []):
            if entry["snapshot_id"] == snapshot_id:
                m["stages"][stage] = dict(entry)
                self._write_manifest(m)
                return dict(entry)
        raise KeyError(f"no snapshot {snapshot_id!r} for stage {stage!r}")

    def load(
        self,
        spark: SparkSession,
        stage: str,
        snapshot_id: str | None = None,
    ) -> DataFrame | None:
        """Read the current snapshot of <stage>, or time-travel to a
        specific ``snapshot_id`` from the history, with the schema its
        commit recorded."""
        if snapshot_id is None:
            info = self.committed(stage)
        else:
            info = next(
                (e for e in self.history(stage) if e["snapshot_id"] == snapshot_id), None
            )
        if info is None:
            return None
        schema = StructType.fromJson(json.loads(info["schema"]))
        return spark.read.schema(schema).parquet(info["path"]).drop("bucket")
