"""One pass of each workload, and the digests that check its outputs.

A pass reads the generated parquet inputs, runs one workload's layer
calls and forces their results, and returns its outputs by name.
Under a :class:`~perfbench.trace.Tracer` each layer call runs in its own
span and is forced at its boundary; the untraced pass forces only what
``bench.run_kg_pipeline`` forces.

Why these workloads:

* ``kg_crawl`` — the paper's headline flow, ``bench.run_kg_pipeline``'s
  chain on the read path. Extraction is the largest share; resolve takes
  the driver path (about 360 keys).
* ``resolve_skew`` — a skewed mention table with more keys than the
  driver-path gate, so LSH pair generation, scoring, connected components
  and identities run distributed, with two hot stop-surfaces.
* ``dedup_near`` — templated page texts: nearly every doc clusters, so
  signatures, the bucket index, the fused scorer and driver cluster
  assembly do the work, and no extraction or resolve runs.

The ``pipeline`` layer (``plans.pipeline.run`` into a ``SnapshotStore``)
is measured in kg_crawl's traced passes, after the crawl chain.
"""

from __future__ import annotations

import os
import shutil

from anno_spark.operators import dedup as dd
from anno_spark.operators import extract as ex
from anno_spark.operators import graph as g
from anno_spark.operators import resolve as rx
from anno_spark.plans import pipeline
from anno_spark.plans.sizing import checkpoint_count, force_fallback
from anno_spark.plans.snapshots import SnapshotStore
from anno_spark.sources.tables import load_table

from . import check
from .trace import COUNTS, PIPELINE_GROUPS

# implementation-independent columns of each checked output
MENTION_COLS = ("url", "text", "entity_type", "start", "end")
TRIPLE_COLS = ("url", "subj_text", "subj_type", "pred", "obj_text", "obj_type")
NODE_COLS = (
    "name", "node_type", "n_mentions", "n_docs", "n_surfaces", "aliases", "kb_id",
)
IDENTITY_COLS = (
    "canonical_name", "entity_type", "n_mentions", "n_docs", "n_surfaces", "aliases",
)
EDGE_COLS = (
    "src_name", "src_type", "dst_name", "dst_type", "relation", "n_occurrences",
)

SKEW_MAX_BUCKET = 256
DEDUP_THRESHOLD = 0.8


def _named_edges(edges, nodes):
    n = nodes.select("node_id", "name", "node_type")
    src = n.toDF("src_node", "src_name", "src_type")
    dst = n.toDF("dst_node", "dst_name", "dst_type")
    return edges.join(src, "src_node").join(dst, "dst_node")


def kg_crawl(spark, tables, t):
    pages = spark.read.parquet(tables["pages"])
    with t.span("extract"):
        extracted, _ = checkpoint_count(ex.extract_documents(pages))
        mentions = t.force(ex.mentions_table(extracted))
        triples = ex.triples_table(extracted)
        triples.count()
    with t.span("resolve"):
        keyed, idents, _ = rx.resolve_mentions(mentions)
        idents, keyed = t.force(idents), t.force(keyed)
    with t.span("graph"):
        nodes, _ = checkpoint_count(g.nodes_table(idents))
        keyed_surfaces = keyed.selectExpr(
            "surface", "entity_type", "component_id as identity_id"
        )
        edges = g.edges_table(triples, keyed_surfaces, nodes)
        edges.count()
    return {
        "mentions": mentions,
        "triples": triples,
        "keys": keyed,
        "nodes": nodes,
        "edges": edges,
    }


def resolve_skew(spark, tables, t):
    mentions = spark.read.parquet(tables["mentions"])
    with t.span("resolve"):
        keyed, idents, _ = rx.resolve_mentions(
            mentions, max_bucket_size=SKEW_MAX_BUCKET
        )
        idents, _ = checkpoint_count(idents)
        keyed = t.force(keyed)
    return {"identities": idents, "keys": keyed}


def dedup_near(spark, tables, t):
    docs = load_table(spark, os.path.dirname(tables["docs"]), "documents")
    with t.span("dedup"):
        with t.span("dedup.signatures"):
            sigs = t.force(dd.doc_signatures_with_id(docs))
        with t.span("dedup.cluster"):
            clusters, _ = checkpoint_count(
                dd.minhash_near_duplicates(docs, threshold=DEDUP_THRESHOLD, sigs=sigs)
            )
    return {"clusters": clusters, "signatures": sigs}


def pipeline_commit(spark, tables, t, store_dir):
    """``plans.pipeline.run`` into a fresh SnapshotStore, one span per
    ``stop_after`` resume step."""
    shutil.rmtree(store_dir, ignore_errors=True)
    pages = spark.read.parquet(tables["pages"])
    store = SnapshotStore(store_dir)
    with t.span("pipeline"):
        for group, stop_after in PIPELINE_GROUPS:
            with t.span(f"pipeline.{group}"):
                res = pipeline.run(spark, pages, store=store, stop_after=stop_after)
    return {
        "pipeline_nodes": res.tables["nodes"],
        "pipeline_edges": res.tables["edges"],
    }


PASSES = {"kg_crawl": kg_crawl, "resolve_skew": resolve_skew, "dedup_near": dedup_near}


def digests(outputs: dict, everything: bool) -> dict:
    """Digests of the final outputs in ``outputs``; with ``everything``,
    also of the intermediate tables (mentions, triples) and the pipeline's
    committed nodes/edges."""
    out = {}
    if everything:
        for name, cols in (("mentions", MENTION_COLS), ("triples", TRIPLE_COLS)):
            if name in outputs:
                out[name] = check.table_digest(check.frame_rows(outputs[name], cols))
    for prefix in ("", "pipeline_"):
        if prefix + "nodes" in outputs and (everything or not prefix):
            nodes, edges = outputs[prefix + "nodes"], outputs[prefix + "edges"]
            out[prefix + "nodes"] = check.table_digest(
                check.frame_rows(nodes, NODE_COLS)
            )
            out[prefix + "edges"] = check.table_digest(
                check.frame_rows(_named_edges(edges, nodes), EDGE_COLS)
            )
    if "identities" in outputs:
        out["identities"] = check.table_digest(
            check.frame_rows(outputs["identities"], IDENTITY_COLS)
        )
    if "clusters" in outputs:
        members: dict[int, list[int]] = {}
        for cid, doc in check.frame_rows(outputs["clusters"], ("cluster_id", "doc_id")):
            members.setdefault(cid, []).append(doc)
        # a cluster is its sorted member list; the cluster id is generated
        out["clusters"] = check.table_digest(sorted(m) for m in members.values())
    return out


def layer_counts(outputs: dict, observed: dict, input_rows: int) -> dict:
    """Per-layer work counts of one traced pass (0 where a layer did not
    run)."""
    c = dict.fromkeys((name for name, _ in COUNTS), 0)
    if "mentions" in observed:
        c["extract.pages"] = input_rows
        c["extract.mentions"] = observed["mentions"][0]
        c["extract.triples"] = observed["triples"][0]
    if "keys" in outputs:
        n_keys = outputs["keys"].count()
        c["resolve.keys"] = n_keys
        c["resolve.driver_path"] = int(
            n_keys <= rx.DRIVER_RESOLVE_MAX_KEYS and not force_fallback()
        )
    if "nodes" in observed:
        c["resolve.identities"] = c["graph.nodes"] = observed["nodes"][0]
        c["graph.edges"] = observed["edges"][0]
    if "identities" in observed:
        c["resolve.identities"] = observed["identities"][0]
    if "clusters" in observed:
        c["dedup.docs"] = input_rows
        c["dedup.distinct_signatures"] = (
            outputs["signatures"].select("sig_id").distinct().count()
        )
        c["dedup.clustered_docs"] = outputs["clusters"].count()
    return c


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / float(1 << 20)
