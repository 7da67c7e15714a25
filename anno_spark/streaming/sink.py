"""Streaming → snapshot-lake sink with exactly-once batch commits.

The batch pipeline commits stage tables through SnapshotStore; this is
the streaming half of that contract (north rule: any stage resumes from
the last committed snapshot). A ``foreachBatch`` sink lands every
micro-batch under ``<root>/<stage>/batches/batch=<id>/`` and records
``last_batch_id`` in the same atomically-swapped manifest.

Exactly-once: Structured Streaming replays the in-flight batch after a
crash (at-least-once at the sink boundary). The sink makes the replay
idempotent two ways — a replayed ``batch_id ≤ last_batch_id`` is
skipped outright, and a batch whose write crashed mid-flight is
re-written with ``overwrite`` into its own batch directory before the
manifest pointer moves. Data visible to readers therefore reflects each
source batch exactly once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..plans.snapshots import SnapshotStore, written_files


class StreamingSnapshotSink:
    """``foreachBatch`` callable committing micro-batches to a stage."""

    def __init__(self, store: SnapshotStore, stage: str):
        self.store = store
        self.stage = stage

    def _meta(self, manifest: dict) -> dict:
        existing = manifest["stages"].get(self.stage)
        if existing is not None and "last_batch_id" not in existing:
            # A stage previously committed through the batch snapshot()
            # path has no batch log — appending micro-batches to it would
            # corrupt the stage's visibility contract (ADVICE r02).
            raise ValueError(
                f"stage {self.stage!r} was committed as a batch snapshot; "
                "use a distinct stage name for the streaming sink"
            )
        return existing or {
            "streaming": True,
            "last_batch_id": -1,
            "rows": 0,
            "path": os.path.join(self.store.root, self.stage, "batches"),
        }

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        m = self.store._read_manifest()
        meta = self._meta(m)
        if batch_id <= meta["last_batch_id"]:
            return  # replayed batch: already committed, exactly-once skip
        out = os.path.join(meta["path"], f"batch={batch_id}")
        df.write.mode("overwrite").parquet(out)
        n = sum(written_files(out).values())
        # re-read the manifest AFTER the slow write, then swap atomically
        m = self.store._read_manifest()
        meta = self._meta(m)
        meta["last_batch_id"] = batch_id
        meta["rows"] = meta["rows"] + n
        m["stages"][self.stage] = meta
        self.store._write_manifest(m)


def run_stream_to_snapshots(
    stream_df: DataFrame,
    store: SnapshotStore,
    stage: str,
    checkpoint_dir: str,
) -> None:
    """Drain all available input into the stage (availableNow trigger).
    Re-invoking with the same checkpoint_dir resumes from the source
    offset log and appends only unseen batches."""
    q = (
        stream_df.writeStream.foreachBatch(StreamingSnapshotSink(store, stage))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def load_stream_stage(
    spark: SparkSession, store: SnapshotStore, stage: str
) -> DataFrame | None:
    """Read exactly the committed batches of a streaming stage.

    Enumerates only ``batch=<id>`` directories with ``id <=
    last_batch_id`` from the manifest (ADVICE r02): a batch directory
    written just before a crash — data landed but the manifest pointer
    never advanced — is invisible until the resumed stream rewrites and
    commits it, which is what makes reader visibility exactly-once.
    Returns None for a missing stage or one with no committed batches;
    raises for a stage committed via the batch snapshot() path.
    """
    info = store.committed(stage)
    if info is None:
        return None
    if "last_batch_id" not in info:
        raise ValueError(
            f"stage {stage!r} is a batch snapshot stage, not a streaming stage"
        )
    last = info["last_batch_id"]
    if last < 0:
        return None
    dirs = []
    for name in os.listdir(info["path"]):
        if name.startswith("batch="):
            try:
                bid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if bid <= last:
                dirs.append(os.path.join(info["path"], name))
    if not dirs:
        return None
    return spark.read.parquet(*sorted(dirs))
