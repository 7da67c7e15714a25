"""Extraction operators (SURVEY §2.2–§2.5): T1 html→text, T3 lang-id,
N1–N4 NER, R1 relations, C1–C3 coref — all as Arrow-batched pandas UDFs.

Design: ONE extraction pass per page. ``extract_documents`` runs the full
single-doc pipeline (anno_spark.core.document.extract_document — the same
code that serves as the pytest oracle) inside ``mapInPandas`` and emits a
row per url carrying `array<struct>` columns for mentions / triples /
tracks. The three normalized tables are then cheap `explode`s of that one
output — the expensive NER never runs twice. At 100 TB the extracted
table is written once (snapshot) and every downstream stage reads the
narrow columns it needs (column pruning does the rest).

Reference lifecycle being reproduced: EP1/EP2/EP3 in SURVEY §3
(anno-cli extract.rs:89-240, crossdoc.rs:85-668, pipeline.rs:63-218).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# schemas

MENTION_STRUCT = (
    "mention_idx int, text string, entity_type string, start int, end int, "
    "confidence double, pattern string, source string, "
    "negated boolean, quantifier string"
)
TRIPLE_STRUCT = (
    "subj_text string, subj_type string, subj_start int, subj_end int, "
    "pred string, obj_text string, obj_type string, obj_start int, obj_end int, "
    "trigger_start int, trigger_end int, confidence double"
)
TRACK_STRUCT = (
    "track_id int, canonical_surface string, entity_type string, "
    "signal_ids array<int>"
)
EVENT_STRUCT = (
    "trigger string, trigger_start int, trigger_end int, event_type string, "
    "polarity string, tense string, confidence double, agent string, "
    "patient string"
)

EXTRACTED_SCHEMA = (
    f"url string, mentions array<struct<{MENTION_STRUCT}>>, "
    f"triples array<struct<{TRIPLE_STRUCT}>>, "
    f"tracks array<struct<{TRACK_STRUCT}>>, "
    f"events array<struct<{EVENT_STRUCT}>>, "
    "pronoun_count int, truncated boolean"
)

TEXT_SCHEMA = "url string, text string"


# --------------------------------------------------------------------------
# T1 — HTML → text (the byte-identical surface)


def _html_to_text_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from anno_spark.core.textops import extract_text_from_html

    for pdf in batches:
        htmls = pdf["html"]
        texts = [
            extract_text_from_html(
                h.decode("utf-8", errors="replace") if isinstance(h, (bytes, bytearray)) else (h or "")
            )
            for h in htmls
        ]
        yield pd.DataFrame({"url": pdf["url"], "text": texts})


def html_to_text(pages: DataFrame) -> DataFrame:
    """T1 (url_resolver.rs:45-170 semantics): pages → (url, text).

    Column-pruned input: only (url, html) are read from the scan.
    """
    return pages.select("url", "html").mapInPandas(
        _html_to_text_batches, schema=TEXT_SCHEMA
    )


# --------------------------------------------------------------------------
# T3 — language detection


def _detect_lang_series(texts: pd.Series) -> pd.Series:
    from anno_spark.core.textops import detect_language

    return texts.map(lambda t: detect_language(t or ""))


def detect_lang_udf():
    """T3 (lang.rs:54-120) as a scalar pandas UDF (built lazily: a UDF
    registration needs an active SparkSession)."""
    return F.pandas_udf(_detect_lang_series, "string")


# --------------------------------------------------------------------------
# full per-document extraction (N1–N4 + R1 + C1–C3)


# Output chunk size for the extraction UDF: one task's input arrives as
# a single Arrow batch (1-2k rows at bench scale), so yielding one output
# frame per input batch serializes the task — Python computes everything,
# THEN the JVM parses everything. Yielding every _EXTRACT_CHUNK rows lets
# the JVM parse chunk k (nested array<struct> decode, the expensive side)
# while Python extracts chunk k+1 — measured ~10% off the extraction
# stage at sf1.0 without touching the session-wide Arrow batch size
# (which the 12M-row pair scorers need LARGE).
_EXTRACT_CHUNK = 512


def _extract_batches(
    batches: Iterator[pd.DataFrame], clean: bool = False, normalize: bool = False
) -> Iterator[pd.DataFrame]:
    from anno_spark.core.annotations import detect_quantifier, is_negated
    from anno_spark.core.document import extract_document
    from anno_spark.core.events import extract_events_with_entities
    from anno_spark.core.textops import prepare

    cols = [
        "url",
        "mentions",
        "triples",
        "tracks",
        "events",
        "pronoun_count",
        "truncated",
    ]
    for pdf in batches:
        rows = []
        for url, text in zip(pdf["url"], pdf["text"]):
            text = text or ""
            if clean or normalize:
                # T2 flags (extract.rs:118-133): preprocess before
                # extraction; offsets are into the PREPARED text, as in
                # the reference CLI's non-golden path
                text = prepare(text, clean=clean, normalize=normalize)
            ext = extract_document(text)
            # R2 runs in the SAME pass over the mentions already extracted
            # (events.rs:1178-1217 entity-aware argument filling): the NER
            # stack never executes twice for one page (VERDICT r01 fix #3).
            events = extract_events_with_entities(text, ext.mentions)
            rows.append(
                {
                    "url": url,
                    "mentions": [
                        {
                            "mention_idx": i,
                            "text": m.text,
                            "entity_type": m.entity_type,
                            "start": m.start,
                            "end": m.end,
                            "confidence": m.confidence,
                            "pattern": m.pattern,
                            "source": m.source,
                            "negated": is_negated(text, m.start),
                            "quantifier": detect_quantifier(text, m.start),
                        }
                        for i, m in enumerate(ext.mentions)
                    ],
                    "triples": [
                        {
                            "subj_text": t.subj_text,
                            "subj_type": t.subj_type,
                            "subj_start": t.subj_start,
                            "subj_end": t.subj_end,
                            "pred": t.pred,
                            "obj_text": t.obj_text,
                            "obj_type": t.obj_type,
                            "obj_start": t.obj_start,
                            "obj_end": t.obj_end,
                            "trigger_start": t.trigger_start,
                            "trigger_end": t.trigger_end,
                            "confidence": t.confidence,
                        }
                        for t in ext.triples
                    ],
                    "tracks": [
                        {
                            "track_id": tr.track_id,
                            "canonical_surface": tr.canonical_surface,
                            "entity_type": tr.entity_type,
                            "signal_ids": list(tr.signal_ids),
                        }
                        for tr in ext.tracks
                    ],
                    "events": [
                        {
                            "trigger": ev.trigger,
                            "trigger_start": ev.trigger_start,
                            "trigger_end": ev.trigger_end,
                            "event_type": ev.event_type,
                            "polarity": ev.polarity,
                            "tense": ev.tense,
                            "confidence": ev.confidence,
                            "agent": dict(ev.arguments).get("Agent"),
                            "patient": dict(ev.arguments).get("Patient"),
                        }
                        for ev in events
                    ],
                    "pronoun_count": ext.pronoun_count,
                    "truncated": ext.truncated,
                }
            )
            if len(rows) >= _EXTRACT_CHUNK:
                yield pd.DataFrame(rows, columns=cols)
                rows = []
        if rows:
            yield pd.DataFrame(rows, columns=cols)


def extract_documents(
    pages: DataFrame,
    text_col: str = "text",
    clean: bool = False,
    normalize: bool = False,
) -> DataFrame:
    """pages → extracted (url, mentions[], triples[], tracks[], metrics).

    Reads only (url, text): when the input already carries the extracted
    text (input_hint), html is never scanned.

    ``clean`` / ``normalize`` are the reference CLI's T2 preprocessing
    opt-ins (extract.rs:118-133 → preprocessor.rs:60-129), applied
    inside the SAME fused pass — no extra stage, no second Arrow
    transfer. Both default off: the golden path is byte-identical
    extraction over the raw text.
    """
    src = pages.select("url", F.col(text_col).alias("text"))
    if clean or normalize:
        def run(batches):
            return _extract_batches(batches, clean=clean, normalize=normalize)

        return src.mapInPandas(run, schema=EXTRACTED_SCHEMA)
    return src.mapInPandas(_extract_batches, schema=EXTRACTED_SCHEMA)


def _gen_extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from anno_spark.corpus import page_record

    for pdf in batches:
        recs = [page_record(int(i)) for i in pdf["id"]]
        inner = pd.DataFrame(
            {"url": [r["url"] for r in recs], "text": [r["text"] for r in recs]}
        )
        yield from _extract_batches(iter([inner]))


def extract_synthetic_documents(spark, n: int, partitions: int) -> DataFrame:
    """Fused corpus-synthesis + extraction in ONE python stage: chaining
    two mapInPandas doubles the python-worker count per task slot (each
    task pipes JVM→py→JVM→py), which oversubscribes CPUs at high
    parallelism and ships html/text across Arrow twice for nothing."""
    ids = spark.range(0, n, 1, numPartitions=partitions)
    return ids.mapInPandas(_gen_extract_batches, schema=EXTRACTED_SCHEMA)


# --------------------------------------------------------------------------
# normalized tables (cheap explodes of the single extraction pass)


def mentions_table(extracted: DataFrame) -> DataFrame:
    """(url, mention_idx, text, entity_type, start, end, confidence,
    pattern, source, mention_id) — mention_id is a content hash
    (SURVEY §7.4: no global counters on a cluster)."""
    m = extracted.select("url", F.explode("mentions").alias("m")).select(
        "url", "m.*"
    )
    return m.withColumn(
        "mention_id",
        F.xxhash64("url", "start", "end", "entity_type"),
    )


def triples_table(extracted: DataFrame) -> DataFrame:
    return extracted.select("url", F.explode("triples").alias("t")).select(
        "url", "t.*"
    )


def tracks_table(extracted: DataFrame) -> DataFrame:
    t = extracted.select("url", F.explode("tracks").alias("t")).select(
        "url", "t.*"
    )
    return t.withColumn(
        "track_uid", F.xxhash64("url", "track_id", "entity_type")
    )


def events_table(extracted: DataFrame) -> DataFrame:
    """R2 — (url, trigger, spans, event_type, polarity, tense, confidence,
    agent, patient): a cheap explode of the single extraction pass."""
    return extracted.select("url", F.explode("events").alias("e")).select(
        "url", "e.*"
    )


def filter_mentions_by_label(mentions: DataFrame, labels) -> DataFrame:
    """N7 — entity-label filter (anno-cli extract.rs:145-156): keep only
    mentions whose entity_type is in ``labels``. Trivial Catalyst
    predicate — pushed to the scan when mentions are read from parquet."""
    return mentions.where(F.col("entity_type").isin(list(labels)))


def page_stats(extracted: DataFrame) -> DataFrame:
    """Per-page extraction counts (url, n_mentions, n_triples, n_tracks,
    n_events, truncated) — the deterministic base for lineage metrics."""
    return extracted.select(
        "url",
        F.size("mentions").alias("n_mentions"),
        F.size("triples").alias("n_triples"),
        F.size("tracks").alias("n_tracks"),
        F.size("events").alias("n_events"),
        F.col("truncated").cast("int").alias("truncated"),
    )


def sharded_page_stats(extracted: DataFrame, n_shards: int = 32) -> DataFrame:
    """page_stats + a content-deterministic ``shard`` (hash of url). A hash
    shard is the cluster-size-independent analogue of a physical partition
    (the snapshot writer repartitions by the same key), so downstream
    metric rows are byte-stable across parallelism levels."""
    return page_stats(extracted).withColumn(
        "shard", F.pmod(F.xxhash64("url"), F.lit(n_shards))
    )


def metrics_from_stats(stats: DataFrame) -> DataFrame:
    """Aggregate sharded page stats → per-shard lineage metrics."""
    return stats.groupBy("shard").agg(
        F.count("*").alias("pages"),
        F.sum("n_mentions").alias("mentions"),
        F.sum("n_triples").alias("triples"),
        F.sum("n_tracks").alias("tracks"),
        F.sum("truncated").alias("truncated_pages"),
    )
