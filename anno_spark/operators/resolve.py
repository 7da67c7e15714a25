"""X1–X7 — cross-document entity resolution at scale (SURVEY §2.6).

The reference resolver (anno/src/eval/cdcr.rs:420-578) union-finds over
*mentions*. The scale-correct reformulation used here exploits an exact
equivalence: two mentions with identical ``(lower(text), entity_type)``
always cluster together (identical lowercased text ⇒ identical minhash
signature ⇒ same LSH buckets ⇒ candidate pair; string_similarity = 1.0 ≥
any threshold; types equal). Therefore the mention graph's connected
components equal the components of the **distinct-surface graph** whose
nodes are ``(lower(text), entity_type)`` keys. On a 10¹²-mention corpus
that drops the clustering problem from 10¹² nodes to ~10⁸ distinct
surfaces — mentions re-attach to their key's component with one hash join.

Stages, assembled only by :func:`resolve_keys` (the entry point of
``resolve_mentions``, ``plans/pipeline.run`` and the oracled queries);
shuffles only where marked:

1. ``surface_keys``     — distinct (surface, entity_type) + mention counts
                          [shuffle: groupBy key; run by the caller]
2. THE gate             — ``keys.count()``, one job that also materializes
                          a lazily checkpointed ``keys``. ≤
                          DRIVER_RESOLVE_MAX_KEYS keys: ONE collect of the
                          key rows, their band hashes in-process
                          (``core.minhash.band_hash_matrix``), and if the
                          pair visits (Σ C(|bucket|, 2) over kept buckets)
                          are ≤ DRIVER_RESOLVE_MAX_PAIRS, 4-7 run on the
                          driver: the one in-process pair kernel
                          (``core.minhash.bucket_index``/``bucket_pairs``,
                          shared with the document near-dup blocker), Python
                          scoring of the distinct pairs, ``uf_labels``, and
                          result frames built from pandas (Arrow
                          ``LocalTableScan``); else:
3. ``band_table``       — minhash/LSH band hashes per key (pandas UDF over
                          the same kernel, exact FNV-1a parity with
                          cdcr.rs:350-402), exploded to one row per band
4. ``candidate_pairs``  — one counting checkpoint of the band table, then
                          the shared band self-join
                          (``plans.sizing.band_self_join``: broadcast
                          build + spread probe side under the byte gate,
                          else shuffled) → dropDuplicates [shuffle: the
                          LSH join; AQE skew-split on; optional
                          max_bucket_size cap for stop-surface buckets —
                          the explicit skew lever]
5. ``score_pairs``      — string_similarity ≥ τ + type gate, entirely in
                          JVM expressions (no Python in the pair hot path)
6. ``connected_components`` — iterative min-label propagation with
                          per-iteration localCheckpoint (SURVEY §4 #2)
7. ``identities_table`` — per-component canonicalization + KB link
                          [shuffle: groupBy component]

Both branches return the same :class:`Resolution` (tests/test_driver_resolve.py).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anno_spark.plans.iterloop import iter_checkpoint
from anno_spark.plans.sizing import band_self_join, checkpoint_count, fits_broadcast

MIN_SIMILARITY = 0.5  # cdcr.rs:433-442 default

CDCR_NUM_BANDS = 5  # band_table emits exactly this many rows per key
# Broadcast payload per key in the small path: 5 exploded band rows
# (~24 B each) + the attrs row (surface string, type, word-set array).
CDCR_BYTES_PER_KEY_EST = 400


# --------------------------------------------------------------------------
# 1. distinct surface keys


def surface_keys(mentions: DataFrame) -> DataFrame:
    """mentions → distinct (surface, entity_type) keys with stats.

    surface = lower(text); key_id = xxhash64(surface, entity_type)
    (content-derived: stable across runs and cluster sizes, SURVEY §7.4).
    """
    # two-step aggregation instead of countDistinct: the expand-based
    # distinct doubles the shuffled row count on the full mention table;
    # aggregating (surface, type, url) first shrinks the second shuffle
    # to the per-doc-distinct size
    has_ts = "warc_ts" in mentions.columns
    cols = [
        F.lower(F.col("text")).alias("surface"),
        F.col("entity_type"),
        F.col("url"),
    ] + ([F.col("warc_ts")] if has_ts else [])
    per_doc = (
        mentions.select(*cols)
        .groupBy("surface", "entity_type", "url")
        .agg(
            F.count("*").alias("n_in_doc"),
            *([F.min("warc_ts").alias("doc_ts")] if has_ts else []),
        )
    )
    return (
        per_doc.groupBy("surface", "entity_type")
        .agg(
            F.sum("n_in_doc").alias("n_mentions"),
            F.count("*").alias("n_docs"),
            # G2 temporal property (graph.rs:249-290): earliest observation
            *([F.min("doc_ts").alias("first_seen")] if has_ts else []),
        )
        .withColumn("key_id", F.xxhash64("surface", "entity_type"))
    )


# --------------------------------------------------------------------------
# 2. minhash band hashes (exact FNV-1a parity, cdcr.rs:350-402)


def _band_hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from anno_spark.core.minhash import band_hash_matrix

    for pdf in batches:
        yield pd.DataFrame(
            {
                "key_id": pdf["key_id"],
                "band_hashes": list(band_hash_matrix(pdf["surface"])),
            }
        )


def band_signatures(keys: DataFrame) -> DataFrame:
    """keys → (key_id, band_hashes array<bigint>), the unexploded LSH
    band-hash vector per key (5 bands × 3 rows, cdcr.rs:288-296), from
    :func:`anno_spark.core.minhash.band_hash_matrix` in a pandas UDF.

    Distributed consumers only: :func:`band_table` explodes it for the
    band join, and linking's emit-once join reads the vectors. The
    driver branch of :func:`resolve_keys` hashes the key rows it already
    collected with the same kernel and never runs this job."""
    return keys.select("key_id", "surface").mapInPandas(
        _band_hash_batches, schema="key_id bigint, band_hashes array<bigint>"
    )


def band_table(keys: DataFrame) -> DataFrame:
    """keys → (key_id, band, band_hash), one row per LSH band
    (5 bands × 3 rows, cdcr.rs:288-296). Compact on purpose: the join
    shuffles nothing but ids and hashes."""
    return band_signatures(keys).select(
        "key_id",
        F.posexplode("band_hashes").alias("band", "band_hash"),
    )


# --------------------------------------------------------------------------
# 3. LSH candidate pairs


def candidate_pairs(
    bands: DataFrame,
    keys: DataFrame,
    max_bucket_size: int | None = None,
    _pre_dedup: bool = False,
) -> DataFrame:
    """The distributed branch's pair generation: the band self-join
    (:func:`anno_spark.plans.sizing.band_self_join`) → ``dropDuplicates``
    → distinct key pairs (a < b), with surfaces/types re-attached AFTER
    dedup (the pre-dedup blowup carries only ids and hashes through the
    shuffle).

    Join strategy: checkpointed inputs hide size stats from Catalyst, so
    when the distinct keys fit the broadcast byte budget
    (:func:`fits_broadcast`) the join takes its small plan and the
    attribute dimension is broadcast too — measured 6× over the
    sort-merge plan at 2·10⁴ keys / 10⁸ joined rows. Beyond the
    threshold (true web scale, ~10⁸ surfaces) it falls back to the
    shuffled join and AQE's skew splitting.

    ``max_bucket_size`` caps pathological buckets (the "the company"
    stop-surface problem, SURVEY §7.5): buckets larger than the cap are
    dropped *for candidate generation only* — at web scale a bucket with
    10⁵ distinct surfaces contributes 10¹⁰ pairs and is always a
    stop-surface artifact. None = exact reference parity. The
    in-process twin of this plan is :func:`anno_spark.core.minhash.
    bucket_pairs`, which the driver branch of :func:`resolve_keys` uses.
    """
    # ONE job: lazy checkpoint + exact count (bands is consumed twice by
    # the self-join; the count also feeds the broadcast gate). band_table
    # emits exactly CDCR_NUM_BANDS rows per key, so the key count is
    # derived, and the gate is byte-based (ADVICE r02).
    bands, n_band_rows = checkpoint_count(bands)
    small = fits_broadcast(n_band_rows // CDCR_NUM_BANDS, CDCR_BYTES_PER_KEY_EST)
    raw = band_self_join(
        bands, "key_id", ("key_a", "key_b"), small, n_band_rows, max_bucket_size
    )
    if _pre_dedup:
        # diagnostic surface for the skew soak: the PRE-dedup pair
        # stream, partitioned exactly as the explosion map stage runs it
        # (the dedup shuffle would rebalance and hide any imbalance)
        return raw.select("key_a", "key_b")
    maybe_broadcast = F.broadcast if small else (lambda df: df)
    # attach surfaces + PRECOMPUTED word sets: the scoring pass over the
    # (huge, mostly-rejected) pair table then allocates one array per
    # pair (the intersect) instead of re-splitting both surfaces — the
    # difference between GC-bound and CPU-bound at 10⁷ candidate pairs
    attrs = keys.select(
        "key_id",
        "surface",
        "entity_type",
        _word_set(F.col("surface")).alias("words"),
    ).withColumn("n_words", F.size("words"))

    def side(sfx):
        return maybe_broadcast(
            attrs.select(
                F.col("key_id").alias(f"key_{sfx}"),
                F.col("surface").alias(f"surface_{sfx}"),
                F.col("entity_type").alias(f"type_{sfx}"),
                F.col("words").alias(f"words_{sfx}"),
                F.col("n_words").alias(f"nw_{sfx}"),
            )
        )

    pairs = raw.select("key_a", "key_b").dropDuplicates(["key_a", "key_b"])
    return pairs.join(side("a"), "key_a").join(side("b"), "key_b")


# --------------------------------------------------------------------------
# 4. pair scoring — string_similarity (similarity.rs:37-92) as JVM exprs


def _word_set(col):
    # Python str.split() ≡ split on \s+ runs, dropping empties.
    # (?U) makes Java \s match Unicode whitespace like Python's split().
    arr = F.split(F.trim(col), r"(?U)\s+")
    return F.array_distinct(F.filter(arr, lambda w: w != F.lit("")))


def _similarity(a, b, words_a, words_b, nw_a, nw_b):
    """string_similarity's CASE chain over surfaces ``a``/``b`` and their
    word sets (sizes ``nw_a``/``nw_b``): 1.0 exact → 0.8 containment →
    word-set Jaccard. The one JVM form of the decision."""
    ni = F.size(F.array_intersect(words_a, words_b))
    union = nw_a + nw_b - ni
    jacc = F.when(union == 0, F.lit(0.0)).otherwise(
        ni.cast("double") / union.cast("double")
    )
    return (
        F.when((a == "") & (b == ""), F.lit(1.0))
        .when((a == "") | (b == ""), F.lit(0.0))
        .when(a == b, F.lit(1.0))
        .when(F.instr(a, b) > 0, F.lit(0.8))
        .when(F.instr(b, a) > 0, F.lit(0.8))
        .otherwise(jacc)
    )


def string_similarity_expr(a, b):
    """JVM-side string_similarity over already-lowercased surfaces: the
    :func:`score_pairs` expression with the word sets built inline."""
    wa, wb = _word_set(a), _word_set(b)
    return _similarity(a, b, wa, wb, F.size(wa), F.size(wb))


def score_pairs(
    pairs: DataFrame,
    min_similarity: float = MIN_SIMILARITY,
    require_type_match: bool = True,
) -> DataFrame:
    """should_cluster (cdcr.rs:539-548) → surviving alias edges, scored
    on the word sets :func:`candidate_pairs` precomputes (one array
    allocation per pair)."""
    scored = pairs.withColumn(
        "similarity",
        _similarity(
            *map(F.col, ("surface_a", "surface_b", "words_a", "words_b", "nw_a", "nw_b"))
        ),
    )
    if require_type_match:
        scored = scored.where(F.col("type_a") == F.col("type_b"))
    return scored.where(F.col("similarity") >= F.lit(min_similarity)).select(
        "key_a", "key_b", "similarity"
    )


# --------------------------------------------------------------------------
# 5. iterative connected components (union-find as a DataFrame loop)


def uf_labels(key_a, key_b):
    """Vectorized connected components over an edge list of raw 64-bit
    ids → ``(uniq_sorted_ids, component_label_per_id)`` with
    component label = min id reachable (the labeling every CC consumer
    in this engine uses).

    Hook + pointer-jump with per-round EDGE CONTRACTION (r06): running
    ``np.minimum.at`` over the full edge list every round — unbuffered
    scatter at ~10M ops/s — cost 1-2 s of driver wall on the 1.36M-edge
    sf1.0 graph. Contracting each round's edges to distinct
    (parent_hi, parent_lo) label pairs collapses the near-dup cliques
    after one pass (round-2 edge count ≈ the component count), and the
    sorted-unique form gives each hi's min lo for free, so the
    scatter-min disappears entirely. Labels still converge to the
    component minimum (hooks only decrease toward the min, the min's
    own label is never touched, and termination = no cross-label edges
    remain). ``uniq`` is sorted, so the minimum dense index in a
    component is exactly the minimum id."""
    import numpy as np

    both = np.concatenate(
        [np.asarray(key_a, dtype=np.int64), np.asarray(key_b, dtype=np.int64)]
    )
    uniq, inv = np.unique(both, return_inverse=True)
    n_edges = len(both) // 2
    n = len(uniq)
    ea, eb = inv[:n_edges], inv[n_edges:]
    parent = np.arange(n)
    while True:
        pa, pb = parent[ea], parent[eb]
        alive = pa != pb
        if not alive.any():
            break
        pa, pb = pa[alive], pb[alive]
        lo = np.minimum(pa, pb)
        hi = np.maximum(pa, pb)
        key = np.unique(hi.astype(np.uint64) * np.uint64(n) + lo.astype(np.uint64))
        hi = (key // np.uint64(n)).astype(np.int64)
        lo = (key % np.uint64(n)).astype(np.int64)
        # keys sort by (hi, lo): the first row per hi carries its min lo
        first = np.ones(len(hi), dtype=bool)
        first[1:] = hi[1:] != hi[:-1]
        fh, fl = hi[first], lo[first]
        parent[fh] = np.minimum(parent[fh], fl)
        while True:  # pointer jumping: parent := parent[parent]
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
        ea, eb = hi, lo  # contracted label graph feeds the next round
    return uniq, uniq[parent]


def _driver_union_find(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Small-graph fast path: :func:`uf_labels` (vectorized
    hook-and-pointer-jump with edge contraction) on the driver over the
    (already materialized) edge list, then ONE broadcast join back onto
    the still-distributed node table. Only edges are collected — nodes
    can be arbitrarily large (singletons keep their own id via
    coalesce). Produces byte-identical output to the distributed
    loop: component_id = min key_id reachable.

    PRECONDITION (shared with :func:`connected_components`): every edge
    endpoint must appear in ``nodes``. With an edge-only id the two paths
    diverge — this path merges components THROUGH (and can label with)
    the absent id, while the distributed loop never propagates through
    unlabeled endpoints (ADVICE r02). Every in-repo caller derives edges
    from the node table (candidate pairs ⊆ keys; dedup pairs ⊆ sig
    table), so the contract is documented rather than paid for with two
    extra semi-joins per invocation on a 10⁸-row edge table."""
    pdf = edges.select("key_a", "key_b").toPandas()
    uniq, labels = uf_labels(pdf["key_a"].to_numpy(), pdf["key_b"].to_numpy())
    comp = nodes.sparkSession.createDataFrame(
        pd.DataFrame({"key_id": uniq, "component_id": labels}),
        schema="key_id bigint, component_id bigint",
    )
    return nodes.select("key_id").join(F.broadcast(comp), "key_id", "left").select(
        "key_id",
        F.coalesce("component_id", F.col("key_id")).alias("component_id"),
    )


# Edge-count gate for the driver fast path: 5M edges ≈ 80 MB collected,
# comparable to a default broadcast side. Above it (true web scale) the
# distributed loop runs. The gate counts EDGES only — the node table is
# never collected at any size.
DRIVER_CC_MAX_EDGES = 5_000_000


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """→ (key_id, component_id) where component_id = min key_id reachable.

    Edge endpoints MUST be a subset of ``nodes`` (see
    :func:`_driver_union_find` for why the two paths diverge otherwise).

    Small graphs (≤ ``DRIVER_CC_MAX_EDGES`` edges after scoring) take the
    driver fast path — the same size-gated pattern as a broadcast join,
    saving ~10 shuffle barriers of fixed latency.

    At scale: min-label propagation with pointer jumping — each round a
    node adopts the minimum label among itself and its neighbors (edge
    step), then labels chase their own label's label (label-compression
    step). The loop runs until no label changes; labels only ever
    decrease, so it always terminates. Pointer jumping often shortens
    the run, but the round count is bounded only by about the graph
    diameter (a 100-node path with shuffled ids takes 45 rounds). One
    localCheckpoint per round truncates lineage (SURVEY §4 #2).
    """
    # materialize edges first: symmetrization reads them twice, and the
    # edge lineage typically contains the expensive LSH join + scoring.
    # Lazy checkpoint + count = ONE job for materialize + size gate
    # (VERDICT r02 wrong #4).
    from anno_spark.plans.sizing import force_fallback

    edges, n_edges = checkpoint_count(edges)
    if n_edges <= DRIVER_CC_MAX_EDGES and not force_fallback():
        return _driver_union_find(nodes, edges)
    # no dedup on the symmetrized table: every in-repo producer emits
    # DISTINCT key_a < key_b pairs (band-pair dedup / min-shared-
    # cell box dedup), so the union cannot collide and a dropDuplicates
    # here was one full edge-table exchange of pure waste before the
    # groupBy. Duplicate edges from an outside caller stay CORRECT —
    # every consumer below is a min-aggregation, so dupes only inflate
    # intermediate rows, never change a label (pinned by
    # tests/test_connected_components.py::
    # test_duplicate_edges_change_nothing_either_path).
    sym = (
        edges.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
        .union(
            edges.select(F.col("key_b").alias("src"), F.col("key_a").alias("dst"))
        )
        .localCheckpoint()
    )
    # seed labels with min(self, neighbors) — one aggregation that saves a
    # full propagation round (most components converge a round earlier)
    nbr0 = sym.groupBy(F.col("src").alias("key_id")).agg(
        F.min("dst").alias("nbr_min")
    )
    labels = (
        nodes.select("key_id")
        .join(nbr0, "key_id", "left")
        .select(
            "key_id",
            F.least(
                F.col("key_id"), F.coalesce("nbr_min", F.col("key_id"))
            ).alias("component_id"),
        )
        .localCheckpoint()
    )

    while True:
        neighbor_min = (
            sym.join(labels, sym["src"] == labels["key_id"])
            .select(F.col("dst").alias("key_id"), "component_id")
            .groupBy("key_id")
            .agg(F.min("component_id").alias("nbr_min"))
        )
        stepped = labels.join(neighbor_min, "key_id", "left").select(
            "key_id",
            F.least(
                F.col("component_id"),
                F.coalesce(F.col("nbr_min"), F.col("component_id")),
            ).alias("component_id"),
            F.col("component_id").alias("prev_component_id"),
        )
        # pointer jumping: component_id := label(component_id)
        parent = stepped.select(
            F.col("key_id").alias("component_id"),
            F.col("component_id").alias("jumped"),
        )
        updated = (
            stepped.join(parent, "component_id", "left")
            .select(
                "key_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("jumped"), F.col("component_id")),
                ).alias("component_id"),
                (
                    F.least(
                        F.col("component_id"),
                        F.coalesce(F.col("jumped"), F.col("component_id")),
                    )
                    != F.col("prev_component_id")
                ).alias("changed"),
            )
        )
        updated = iter_checkpoint(updated)
        labels = updated.select("key_id", "component_id")
        # `updated` was just localCheckpointed, so the convergence probe
        # scans cached partitions (~0.1s) — far cheaper than one wasted
        # propagation round; probe every round and break ASAP
        if len(updated.where("changed").take(1)) == 0:
            break
    return labels


# --------------------------------------------------------------------------
# 6. identities


def identities_table(
    keys: DataFrame, components: DataFrame
) -> DataFrame:
    """Per-component canonical entity (X5, resolver.rs:151-214) with a
    deterministic canonical pick: most mentions, ties → lexicographically
    greatest surface (documented divergence from the reference's HashMap
    order, SURVEY §7.3). KB ids via broadcast lookup (C5)."""
    from anno_spark.core.document import KNOWN_KB_ENTITIES

    keyed = keys.join(components, "key_id")
    # tiebreak struct carries entity_type as the last key: the same surface
    # can occur under two types with equal counts, and max_by over a
    # 2-field struct would pick between them nondeterministically
    pick = F.struct(F.col("n_mentions"), F.col("surface"), F.col("entity_type"))
    has_ts = "first_seen" in keys.columns
    idents = keyed.groupBy("component_id").agg(
        F.max_by("surface", pick).alias("canonical_name"),
        F.max_by("entity_type", pick).alias("entity_type"),
        F.sum("n_mentions").alias("n_mentions"),
        F.sum("n_docs").alias("n_docs"),
        F.count("*").alias("n_surfaces"),
        F.sort_array(F.collect_set("surface")).alias("aliases"),
        *([F.min("first_seen").alias("first_seen")] if has_ts else []),
    )
    spark = keys.sparkSession
    # a pandas frame plans as an Arrow LocalTableScan; a list of tuples
    # would be a pickled Python RDD every consumer re-scans
    kb = spark.createDataFrame(
        pd.DataFrame(
            [(name, qid, desc) for name, (qid, desc) in KNOWN_KB_ENTITIES.items()]
        ),
        "canonical_lower string, kb_id string, kb_description string",
    )
    return (
        idents.withColumn("canonical_lower", F.lower("canonical_name"))
        .join(F.broadcast(kb), "canonical_lower", "left")
        .drop("canonical_lower")
        .withColumnRenamed("component_id", "identity_id")
    )


def top_clusters(
    identities: DataFrame,
    min_mentions: int = 1,
    min_docs: int = 1,
    entity_types=None,
    limit: int | None = 20,
) -> DataFrame:
    """X7 — cluster filter / rank / limit (anno-cli crossdoc.rs:489-520):
    keep identities with ≥ min_mentions mentions and ≥ min_docs docs
    (optionally restricted to ``entity_types``), ranked by
    (n_docs, n_mentions, canonical_name) descending — the reference's
    (doc_count, size, name) desc sort — with a deterministic global limit.

    Scale note: a global top-k orderBy+limit is a TakeOrderedAndProject
    (per-partition top-k then a k-row merge on the driver) — no full sort
    shuffle.
    """
    out = identities.where(
        (F.col("n_mentions") >= min_mentions) & (F.col("n_docs") >= min_docs)
    )
    if entity_types:
        out = out.where(F.col("entity_type").isin(list(entity_types)))
    out = out.orderBy(
        F.desc("n_docs"),
        F.desc("n_mentions"),
        F.desc("canonical_name"),
        F.asc("identity_id"),
    )
    return out.limit(limit) if limit is not None else out


# --------------------------------------------------------------------------
# the one entry point


class Resolution(NamedTuple):
    """:func:`resolve_keys` output on either branch: alias edges (key_a <
    key_b, similarity), components (key_id, component_id = min key_id
    reachable) and identities (:func:`identities_table` columns)."""

    edges: DataFrame
    components: DataFrame
    identities: DataFrame


# Key-count gate for the driver branch of resolve_keys, read off one
# count job: at or below it the key rows are collected once and hashed
# in-process by band_hash_matrix (~17 µs/key on one core, so ≤ ~0.35 s
# here), and band/pair/score/CC work costs milliseconds where the
# distributed branch pays ~7 Spark jobs of fixed scheduler+broadcast
# latency (measured 1.6 s of the sf1.0 bench on a 2.5k-key, 1.3k-edge
# graph). Past the gate (true web scale) the distributed branch runs.
DRIVER_RESOLVE_MAX_KEYS = 20_000

# Work gate for the same branch, on the bucket index it built:
# Σ C(|bucket|, 2) over kept buckets = pair visits of the emit-once
# expansion, and an upper bound on the pairs the Python scorer sees
# (0.7-2.6M/s on one Xeon core), so ≤ ~1.4 s — about the distributed
# branch's fixed latency. A ~1.4k-key hot bucket exceeds it.
DRIVER_RESOLVE_MAX_PAIRS = 1_000_000


def _driver_scored_pairs(krows, ia, ib, min_similarity, require_type_match):
    """The driver branch's scorer: distinct candidate pairs as row
    indices into ``krows`` (sorted by key_id, ``ia < ib``) →
    [(key_a, key_b, similarity)], key_a < key_b, scored by the
    :func:`_similarity` decision on the STORED surfaces, ``split()`` ≡
    the JVM ``_word_set`` (pinned by
    tests/test_spark_pipeline.py::test_string_similarity_expr_parity)."""
    kid = [r["key_id"] for r in krows]
    surf = [r["surface"] for r in krows]
    typ = [r["entity_type"] for r in krows]
    words = [frozenset(sf.split()) for sf in surf]
    edges = []
    for a, b in zip(ia.tolist(), ib.tolist()):
        if require_type_match and typ[a] != typ[b]:
            continue
        sa, sb = surf[a], surf[b]
        if sa == sb:
            sim = 1.0
        elif not sa or not sb:
            sim = 0.0
        elif sb in sa or sa in sb:
            sim = 0.8
        else:
            union = len(words[a] | words[b])
            sim = len(words[a] & words[b]) / union if union else 0.0
        if sim >= min_similarity:
            edges.append((kid[a], kid[b], sim))
    return edges


def _driver_resolve(
    keys: DataFrame,
    max_bucket_size: int | None,
    min_similarity: float,
    require_type_match: bool,
) -> Resolution | None:
    """The driver branch, from ONE collect of the key rows: their band
    hashes in-process (:func:`anno_spark.core.minhash.band_hash_matrix`,
    the kernel :func:`band_signatures` runs distributed), the capped
    bucket index, the distinct pairs :func:`anno_spark.core.minhash.
    bucket_pairs` emits scored in Python, ``uf_labels`` for CC, and
    components and identities from the same rows. Every returned frame
    is built from pandas, so it plans as an Arrow ``LocalTableScan``: no
    consumer runs a Spark job or a Python worker to read it. Bucket-cap
    semantics as in :func:`candidate_pairs` (buckets with > cap members
    dropped for candidate generation). None when the pair visits exceed
    ``DRIVER_RESOLVE_MAX_PAIRS``: the caller then runs the distributed
    branch."""
    import numpy as np

    from anno_spark.core.document import KNOWN_KB_ENTITIES
    from anno_spark.core.minhash import (
        band_entries,
        band_hash_matrix,
        bucket_index,
        bucket_pairs,
    )

    has_ts = "first_seen" in keys.columns
    # first_seen travels as epoch microseconds: collect() would hand back
    # naive datetimes in the Python process's zone, and Arrow reads naive
    # values in the session zone, so the two zones would shift the stamp
    stamp = [F.unix_micros("first_seen").alias("first_seen")] if has_ts else []
    krows = sorted(
        keys.select(
            "key_id", "surface", "entity_type", "n_mentions", "n_docs", *stamp
        ).collect(),
        key=lambda r: r["key_id"],
    )
    n = len(krows)
    kid = np.array([r["key_id"] for r in krows], dtype=np.int64)
    index = bucket_index(
        band_hash_matrix([r["surface"] for r in krows]), max_bucket_size
    )
    if index.pair_visits() > DRIVER_RESOLVE_MAX_PAIRS:
        return None
    ia, ib = bucket_pairs(
        index, *band_entries(0, n * CDCR_NUM_BANDS, CDCR_NUM_BANDS)
    )
    edges = pd.DataFrame(
        _driver_scored_pairs(krows, ia, ib, min_similarity, require_type_match),
        columns=["key_a", "key_b", "similarity"],
    )
    uniq, labels = uf_labels(edges["key_a"], edges["key_b"])
    # kid is sorted and holds every edge endpoint; keys without an edge
    # keep their own id
    comp = kid.copy()
    comp[np.searchsorted(kid, uniq)] = labels
    # identities from the SAME rows, replicating identities_table:
    # canonical pick = max by (n_mentions, surface, entity_type) — Python
    # tuple comparison ≡ Spark struct comparison (longs by value; strings
    # by code point ≡ UTF-8 binary order); aliases = sorted distinct
    # surfaces (same order property); KB lookup on the lowercased
    # canonical (surfaces are already lowercase); first_seen = min over
    # non-null values, like F.min.
    groups: dict[int, list] = {}
    for r, cid in zip(krows, comp.tolist()):
        groups.setdefault(cid, []).append(r)
    ident_rows, first_seen = [], []
    for cid, rows in groups.items():
        pick = max(
            rows, key=lambda r: (r["n_mentions"], r["surface"], r["entity_type"])
        )
        ident_rows.append(
            (
                cid,
                pick["surface"],
                pick["entity_type"],
                sum(r["n_mentions"] for r in rows),
                sum(r["n_docs"] for r in rows),
                len(rows),
                sorted({r["surface"] for r in rows}),
            )
            + KNOWN_KB_ENTITIES.get(pick["surface"].lower(), (None, None))
        )
        if has_ts:
            stamps = [r["first_seen"] for r in rows if r["first_seen"] is not None]
            first_seen.append(min(stamps, default=None))
    idents = pd.DataFrame(
        ident_rows,
        columns=[
            "identity_id", "canonical_name", "entity_type", "n_mentions",
            "n_docs", "n_surfaces", "aliases", "kb_id", "kb_description",
        ],
    )
    if has_ts:  # UTC-aware: Arrow converts it to the same instant in any zone
        idents.insert(
            7,
            "first_seen",
            pd.to_datetime(pd.array(first_seen, dtype="Int64"), unit="us", utc=True),
        )
    spark = keys.sparkSession
    return Resolution(
        spark.createDataFrame(edges, "key_a bigint, key_b bigint, similarity double"),
        spark.createDataFrame(
            pd.DataFrame({"key_id": kid, "component_id": comp}),
            "key_id bigint, component_id bigint",
        ),
        spark.createDataFrame(
            idents,
            "identity_id bigint, canonical_name string, entity_type string, "
            "n_mentions bigint, n_docs bigint, n_surfaces bigint, "
            "aliases array<string>, "
            + ("first_seen timestamp, " if has_ts else "")
            + "kb_id string, kb_description string",
        ),
    )


def resolve_keys(
    keys: DataFrame,
    min_similarity: float = MIN_SIMILARITY,
    require_type_match: bool = True,
    max_bucket_size: int | None = None,
) -> Resolution:
    """:func:`surface_keys` rows → :class:`Resolution`. The only place
    the band → pairs → score → CC → identities chain is assembled; the
    gate and both branches are described in the module docstring.
    ``keys`` is read several times: pass it materialized (checkpoint or
    parquet), or lazily checkpointed — the gate's count job then
    materializes it."""
    from anno_spark.plans.sizing import force_fallback

    if not force_fallback() and keys.count() <= DRIVER_RESOLVE_MAX_KEYS:
        res = _driver_resolve(keys, max_bucket_size, min_similarity, require_type_match)
        if res is not None:
            return res
    # candidate_pairs checkpoints and counts the band table in one job
    pairs = candidate_pairs(band_table(keys), keys, max_bucket_size=max_bucket_size)
    edges = score_pairs(pairs, min_similarity, require_type_match)
    edges = edges.localCheckpoint(eager=False)
    # checkpointed: identities and the callers' joins all read the labels,
    # and each would otherwise re-run CC
    comps = connected_components(keys, edges).localCheckpoint(eager=False)
    return Resolution(edges, comps, identities_table(keys, comps))


def resolve_mentions(
    mentions: DataFrame,
    min_similarity: float = MIN_SIMILARITY,
    require_type_match: bool = True,
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """mentions → (keys_with_components, identities, mention_identity):
    :func:`surface_keys` → :func:`resolve_keys` → one hash join on the
    surface key mapping every mention back to its identity, the only
    touch of the full mention table after extraction. ``keys`` is
    checkpointed LAZILY (resolve_keys' counting job materializes it); on
    a real cluster it becomes a snapshot table (SnapshotStore)."""
    keys = surface_keys(mentions).localCheckpoint(eager=False)
    res = resolve_keys(keys, min_similarity, require_type_match, max_bucket_size)
    keyed = keys.join(res.components, "key_id")
    mention_identity = mentions.withColumn("surface", F.lower(F.col("text"))).join(
        keyed.select("surface", "entity_type", F.col("component_id").alias("identity_id")),
        ["surface", "entity_type"],
    )
    return keyed, res.identities, mention_identity
