"""The end-to-end KG-construction plan (SURVEY §3 EP2/EP3, recast).

    pages ─T1/T3──▶ extracted ──explode──▶ mentions ─X1..X5─▶ identities
                        │                      │                  │
                        ├──▶ triples ──────────┼───G3───▶ edges   │
                        └──▶ tracks            └───G1/G2─▶ nodes ◀┘

Every stage commits a snapshot through SnapshotStore; ``run`` resumes
from the last committed stage. ``surface_components`` and ``identities``
come from one ``resolve_mentions`` call (the read path's) and commit and
resume together. Each commit appends its manifest's per-file row counts
to ``lineage_metrics`` (stage, partition_id = file index, rows,
snapshot_id; north rule: per-partition lineage + extraction counts).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract as ex
from ..operators import graph as g
from ..operators import resolve as rx
from .snapshots import SnapshotStore

STAGES = (
    "extracted",
    "mentions",
    "triples",
    "tracks",
    "surface_components",
    "identities",
    "nodes",
    "edges",
)


@dataclass
class PipelineResult:
    tables: dict = field(default_factory=dict)
    resumed_stages: list = field(default_factory=list)
    computed_stages: list = field(default_factory=list)


def _commit_metrics(store: SnapshotStore, spark: SparkSession, stage: str, entry: dict):
    """Append the per-file row counts of <stage>'s commit to
    lineage_metrics as one file (a local relation splits per core)."""
    rows = [(i, n, stage, entry["snapshot_id"]) for i, n in enumerate(entry["files"].values())]
    metrics = pd.DataFrame(rows, columns=["partition_id", "rows", "stage", "snapshot_id"])
    spark.createDataFrame(
        metrics, "partition_id int, rows bigint, stage string, snapshot_id string"
    ).coalesce(1).write.mode("append").parquet(os.path.join(store.root, "lineage_metrics"))


def run(
    spark: SparkSession,
    pages: DataFrame,
    store: SnapshotStore | None = None,
    min_similarity: float = rx.MIN_SIMILARITY,
    require_type_match: bool = True,
    max_bucket_size: int | None = None,
    stop_after: str | None = None,
) -> PipelineResult:
    """Run (or resume) the full pipeline. When ``store`` is None, runs
    fully in-memory (tests / small corpora)."""
    res = PipelineResult()

    def commit(name: str, df: DataFrame) -> DataFrame:
        if store is not None:
            bucket_by = (32, "identity_id") if name == "identities" else None
            entry = store.commit(name, df, bucket_by=bucket_by)
            _commit_metrics(store, spark, name, entry)
            df = store.load(spark, name)
        res.computed_stages.append(name)
        return df

    def stages(names: tuple, compute) -> list:
        """Resume ``names`` from their snapshots when all are committed;
        else compute them together and commit each."""
        if store is not None and all(store.committed(n) for n in names):
            res.resumed_stages.extend(names)
            dfs = [store.load(spark, n) for n in names]
        else:
            dfs = [commit(n, df) for n, df in zip(names, compute())]
        res.tables.update(zip(names, dfs))
        return dfs

    def stage(name: str, compute) -> DataFrame:
        return stages((name,), lambda: (compute(),))[0]

    extracted = stage("extracted", lambda: ex.extract_documents(pages))
    if store is None:
        extracted = extracted.persist()
        res.tables["extracted"] = extracted
    if stop_after == "extracted":
        return res

    mentions = stage("mentions", lambda: ex.mentions_table(extracted))
    triples = stage("triples", lambda: ex.triples_table(extracted))
    stage("tracks", lambda: ex.tracks_table(extracted))
    if stop_after in ("mentions", "triples", "tracks"):
        return res

    keyed, identities = stages(
        ("surface_components", "identities"),
        lambda: rx.resolve_mentions(
            mentions, min_similarity, require_type_match, max_bucket_size
        )[:2],
    )
    if stop_after in ("surface_components", "identities"):
        return res

    nodes = stage("nodes", lambda: g.nodes_table(identities))
    keyed_surfaces = keyed.select(
        "surface", "entity_type", F.col("component_id").alias("identity_id")
    )
    stage("edges", lambda: g.edges_table(triples, keyed_surfaces, nodes))
    return res
