"""The end-to-end KG-construction plan (SURVEY §3 EP2/EP3, recast).

    pages ─T1/T3──▶ extracted ──explode──▶ mentions ─X1..X5─▶ identities
                        │                      │                  │
                        ├──▶ triples ──────────┼───G3───▶ edges   │
                        └──▶ tracks            └───G1/G2─▶ nodes ◀┘

Every stage commits a snapshot through SnapshotStore; ``run`` resumes
from the last committed stage. A ``lineage_metrics`` table (stage,
partition_id, counts, snapshot_id) is written alongside each commit
(north rule: per-partition lineage + extraction-count metrics).
"""

from __future__ import annotations

from dataclasses import dataclass, field

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


def _commit_metrics(store: SnapshotStore, spark: SparkSession, stage: str, df: DataFrame):
    """Append per-partition row counts for <stage> to lineage_metrics."""
    import os

    info = store.committed(stage)
    metrics = (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(F.count("*").alias("rows"))
        .withColumn("stage", F.lit(stage))
        .withColumn("snapshot_id", F.lit(info["snapshot_id"] if info else None))
    )
    out = os.path.join(store.root, "lineage_metrics")
    metrics.write.mode("append").parquet(out)


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

    def stage(name: str, compute):
        if store is not None:
            cached = store.load(spark, name)
            if cached is not None:
                res.resumed_stages.append(name)
                res.tables[name] = cached
                return cached
        df = compute()
        if store is not None:
            bucket_by = (32, "identity_id") if name in ("identities",) else None
            store.commit(name, df, bucket_by=bucket_by)
            df = store.load(spark, name)
            _commit_metrics(store, spark, name, df)
        res.computed_stages.append(name)
        res.tables[name] = df
        return df

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

    def compute_components():
        keys = rx.surface_keys(mentions).localCheckpoint(eager=False)
        res = rx.resolve_keys(keys, min_similarity, require_type_match, max_bucket_size)
        return keys.join(res.components, "key_id")

    keyed = stage("surface_components", compute_components)
    if stop_after == "surface_components":
        return res

    identities = stage(
        "identities",
        lambda: rx.identities_table(
            keyed.drop("component_id"),
            keyed.select("key_id", "component_id"),
        ),
    )
    if stop_after == "identities":
        return res

    nodes = stage("nodes", lambda: g.nodes_table(identities))
    keyed_surfaces = keyed.select(
        "surface", "entity_type", F.col("component_id").alias("identity_id")
    )
    stage("edges", lambda: g.edges_table(triples, keyed_surfaces, nodes))
    return res
