"""M4 — entity linking: blocked candidate generation scored with TF-IDF
cosine + prior features (the north-star upgrade over the reference's
plain string similarity, SURVEY §2.6 X3; reference cosine at
anno/src/backends/inference.rs:1964-1974, demo KB at
anno/src/cli/utils.rs:555-625).

Fully relational sparse TF-IDF: a vector is a posting table
(key, gram, weight); cosine of a candidate pair is a join on gram + a
groupBy sum — no ml.Vector UDFs, whole plan stays in Catalyst.

Scale shape: candidate generation reuses the MinHash/LSH band machinery
so the mention side is blocked, never cross-joined. The surface side is
already the deduplicated distinct-surface table, so hot surfaces ("the
company") are single rows — the skew that would otherwise need salting
was removed structurally. Every KB-side join (bands, IDF, postings,
alias dimension) is BYTE-GATED (VERDICT r03 next #6): broadcast while
the estimated size fits plans.sizing.MAX_BROADCAST_BYTES, else a
merge-hinted shuffled equi-join — a 10⁶-alias KB (postings ≈ 1.8·10⁷
rows) linked the same code path as the 19-entry demo KB.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from anno_spark.plans.sizing import checkpoint_count, fits_broadcast

from .resolve import CDCR_NUM_BANDS, band_signatures, band_table

# Per-row broadcast-size estimates: the built hash relation's bytes per
# row (UnsafeRow + hash-map overhead), as the broadcast exchange's
# dataSize metric reports it on the 10^6-alias KB (local[4]); same
# convention as resolve.CDCR_BYTES_PER_KEY_EST
POSTING_BYTES_EST = 150     # (alias_id, gram, w): measured 148.6 B/row
IDF_BYTES_EST = 56          # (gram, idf double)
ALIAS_BYTES_EST = 168       # (alias, kb_id, description, alias_id): 167.8 B/row
BAND_BYTES_EST = 108        # (alias_id, band, band_hash): measured 107 B/row


def _gram_postings(df: DataFrame, key_col: str, text_col: str) -> DataFrame:
    """(key, gram, tf) — char 3-gram term frequencies of lower(text),
    computed JVM-side (transform over an index sequence + substring);
    texts shorter than 3 chars contribute the whole text as one gram
    (minhash.extract_ngrams semantics, cdcr.rs:371-381)."""
    t = F.lower(F.col(text_col))
    gram_arr = F.when(
        F.length(t) < 3, F.array(t)
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 2),
            lambda i: t.substr(i, F.lit(3)),
        )
    )
    grams = df.select(
        F.col(key_col).alias("key"), F.explode(gram_arr).alias("gram")
    )
    return grams.groupBy("key", "gram").agg(F.count("*").alias("tf"))


def build_kb_index(spark: SparkSession, kb_aliases: DataFrame) -> dict:
    """kb_aliases: (alias, kb_id, description[, prior]) →
    {"postings": broadcastable TF-IDF postings, "idf": gram→idf,
     "aliases": alias dimension, "alias_sigs": (alias_id, bh_al) LSH
    band-hash vectors}. IDF fitted on the alias corpus:
    idf = ln((N+1)/(df+1)) + 1 (smoothed). The alias band hashes are
    computed once here, checkpointed, so every :func:`link_candidates`
    call hashes only its surfaces."""
    # dedup on alias_id (ADVICE r05): duplicate (alias, kb_id) input rows
    # would survive the broadcast emit-once first-shared-band filter and
    # multiply through the alias_sigs join, while the shuffled fallback
    # dropDuplicates — collapsing here keeps the two paths identical on
    # un-deduped KB input (a no-op for distinct-alias KBs)
    aliases = kb_aliases.withColumn(
        "alias_id", F.xxhash64("alias", "kb_id")
    ).dropDuplicates(["alias_id"])
    n = aliases.count()
    tf = _gram_postings(aliases, "alias_id", "alias")
    df_counts = tf.groupBy("gram").agg(F.countDistinct("key").alias("df"))
    idf = df_counts.select(
        "gram",
        (F.log((F.lit(n) + 1.0) / (F.col("df") + 1.0)) + 1.0).alias("idf"),
    )
    w = tf.join(idf, "gram").select(
        "key", "gram", ((1.0 + F.log("tf")) * F.col("idf")).alias("w")
    )
    norms = w.groupBy("key").agg(F.sqrt(F.sum(F.col("w") ** 2)).alias("norm"))
    postings = w.join(norms, "key").select(
        F.col("key").alias("alias_id"),
        "gram",
        (F.col("w") / F.col("norm")).alias("w_alias"),
    )
    postings, n_postings = checkpoint_count(postings)
    idf, n_grams = checkpoint_count(idf)
    aliases = aliases.localCheckpoint()
    alias_sigs = band_signatures(
        aliases.select(
            F.col("alias_id").alias("key_id"), F.col("alias").alias("surface")
        )
    ).toDF("alias_id", "bh_al")
    return {
        "postings": postings,
        "idf": idf,
        "aliases": aliases,
        "alias_sigs": alias_sigs.localCheckpoint(),
        "n_aliases": n,
        "n_postings": n_postings,
        "n_grams": n_grams,
    }


def _kb_side(df: DataFrame, n_rows: int, bytes_per_row: int) -> DataFrame:
    """Broadcast the KB-side table only while its estimated bytes fit
    the budget; past it, hint a merge join: a checkpointed table keeps
    its source plan's size estimate (9.8 MB for 1.8·10⁷ postings), so
    the planner would broadcast it anyway (a 2.7 GB hash table)."""
    return F.broadcast(df) if fits_broadcast(n_rows, bytes_per_row) else df.hint("merge")


def link_candidates(surfaces: DataFrame, kb_index: dict) -> DataFrame:
    """LSH-blocked candidate generation: band join surface↔alias
    (broadcast KB side) → distinct (key_id, alias_id).

    On the broadcast path the (key_id, alias_id) dedup runs MAP-SIDE
    (emit-once: keep the row whose band is the pair's first shared band,
    from the two band-hash vectors — the surface's rides the probe rows,
    the alias's comes back from a second compact broadcast), so no
    candidate-proportional exchange exists. The shuffled 10⁶-alias
    fallback keeps dropDuplicates: there the alias-vector attach would
    itself shuffle, and AQE owns the plan anyway. Either plan reads the
    alias band hashes ``build_kb_index`` checkpointed; the only Python
    stage hashes the surfaces."""
    alias_sigs = kb_index["alias_sigs"]
    alias_bands = alias_sigs.select(
        "alias_id", F.posexplode("bh_al").alias("band", "band_hash")
    )
    # band_table emits exactly CDCR_NUM_BANDS rows per alias; the
    # emit-once variant also broadcasts the compact per-alias vector
    # (CDCR_NUM_BANDS longs), accounted in the byte gate
    kb_small = fits_broadcast(
        kb_index["n_aliases"],
        CDCR_NUM_BANDS * BAND_BYTES_EST + CDCR_NUM_BANDS * 8 + 24,
    )
    if not kb_small:
        surf_bands = band_table(surfaces)
        return (
            surf_bands.join(alias_bands.hint("merge"), ["band", "band_hash"])
            .select("key_id", "alias_id")
            .dropDuplicates(["key_id", "alias_id"])
        )
    surf_sigs = band_signatures(surfaces)
    surf_bands = surf_sigs.select(
        "key_id",
        F.col("band_hashes").alias("bh_surf"),
        F.posexplode("band_hashes").alias("band", "band_hash"),
    )
    first_shared = F.array_position(
        F.zip_with("bh_surf", "bh_al", lambda a, b: a == b), F.lit(True)
    )
    return (
        surf_bands.join(F.broadcast(alias_bands), ["band", "band_hash"])
        .join(F.broadcast(alias_sigs), "alias_id")
        .where(F.col("band") + F.lit(1) == first_shared)
        .select("key_id", "alias_id")
    )


def link_surfaces(
    surfaces: DataFrame,
    kb_index: dict,
    min_score: float = 0.5,
    exact_bonus: float = 0.25,
    type_bonus: float = 0.05,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """surfaces: (key_id, surface, entity_type, n_mentions) →
    (key_id, surface, kb_id, link_score) — best KB link per surface.

    Candidates: LSH band join surface↔alias (blocked, broadcast KB), or a
    precomputed (key_id, alias_id) table. Score: TF-IDF cosine (IDF from
    the KB corpus) + exact-match bonus + type-agreement bonus; winner per
    surface by (score desc, kb_id).
    """
    cands = candidates if candidates is not None else link_candidates(surfaces, kb_index)

    # surface-side TF-IDF postings with the KB's IDF table
    tf = _gram_postings(surfaces, "key_id", "surface")
    kb_idf = _kb_side(kb_index["idf"], kb_index["n_grams"], IDF_BYTES_EST)
    w = tf.join(kb_idf, "gram").select(
        "key", "gram", ((1.0 + F.log("tf")) * F.col("idf")).alias("w")
    )
    norms = w.groupBy("key").agg(F.sqrt(F.sum(F.col("w") ** 2)).alias("norm"))
    surf_postings = w.join(norms, "key").select(
        F.col("key").alias("key_id"),
        "gram",
        (F.col("w") / F.col("norm")).alias("w_surf"),
    )

    dot = (
        cands.join(surf_postings, "key_id")
        .join(
            _kb_side(
                kb_index["postings"], kb_index["n_postings"], POSTING_BYTES_EST
            ),
            ["alias_id", "gram"],
        )
        .groupBy("key_id", "alias_id")
        .agg(F.sum(F.col("w_surf") * F.col("w_alias")).alias("cosine"))
    )
    scored = (
        dot.join(
            _kb_side(
                kb_index["aliases"].select(
                    "alias_id", "alias", "kb_id", "description"
                ),
                kb_index["n_aliases"],
                ALIAS_BYTES_EST,
            ),
            "alias_id",
        )
        .join(
            surfaces.select("key_id", "surface", "entity_type", "n_mentions"),
            "key_id",
        )
        .withColumn(
            "link_score",
            F.round(
                F.col("cosine")
                + F.when(F.lower("alias") == F.col("surface"), exact_bonus).otherwise(0.0)
                + F.when(
                    F.col("entity_type").isin("PER", "ORG", "LOC"), type_bonus
                ).otherwise(0.0),
                6,
            ),
        )
    )
    w_best = Window.partitionBy("key_id").orderBy(
        F.desc("link_score"), F.asc("kb_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .where((F.col("rn") == 1) & (F.col("link_score") >= min_score))
        .select("key_id", "surface", "entity_type", "kb_id", "description", "link_score")
    )


def demo_kb(spark: SparkSession) -> DataFrame:
    """The reference's 19-entry demo KB (utils.rs:555-625) as an alias
    table, with a few alias variants per entity."""
    from anno_spark.core.document import KNOWN_KB_ENTITIES

    rows = []
    for name, (qid, desc) in KNOWN_KB_ENTITIES.items():
        rows.append((name, qid, desc))
        parts = name.split()
        if len(parts) > 1:
            rows.append((parts[-1], qid, desc))  # surname / last-token alias
    return spark.createDataFrame(
        pd.DataFrame(rows), "alias string, kb_id string, description string"
    ).dropDuplicates(["alias", "kb_id"])
