"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship KG-construction run (pages → triples) on
sf0.001. `queries()` — one entry per implemented operator family
(SURVEY.md §2 + the training-data ops). `oracle_sql()` — DuckDB
equivalents for every query whose logic is SQL-expressible.

Oracle scheme (round 2): extraction is a pandas UDF (non-SQL), but
everything downstream is relational. Each KG/dedup/linking query
therefore (a) materializes the intermediates its oracle needs to parquet
under ``.oracle/<sf>/`` (plans/materialize.py), (b) computes its result
in Spark FROM those tables, and (c) the DuckDB oracle RE-DERIVES the
result from the same parquet with independent SQL — recursive-CTE
connected components, window ranking, band self-joins, TF-IDF in SQL
(plans/oracles.py). Extraction itself is pinned by the pytest parity
suite vs the pure-Python reference port (tests/test_spark_pipeline.py).

Round 3 adds two layers on top (VERDICT r02 next #1/#2):

* PROBE ROWS whose oracles never read Spark-materialized extraction
  parquet — planted templates over doc_id with positionally-derivable
  expected output: regex families over a second probe column
  (independent-engine differential, Python re vs DuckDB RE2), the
  heuristic-NER gazetteer path, trigger relations, coref tracks, and
  the E1/E2 eval operators scored against planted golds with controlled
  FP/FN (the matching joins recomputed in SQL).
* ITERATIVE-ALGORITHM oracles: the direction-alternating Leiden loop
  (and its 2-level hierarchy) transcribed as UNROLLED generated SQL —
  one gain-aggregation + window-argmax + move-gate CTE block per round,
  every CTE AS MATERIALIZED (un-hinted inlining is O(3^rounds)).

Every query is oracled — zero rows-only entries.

Column-name discipline: every computed column is aliased identically in
the Spark code and the SQL string. Every output column is SCALAR (the
driver canonicalizer cannot sort array cells — r01 lesson): arrays are
serialized with deterministic joins (aliases → '|', signal_ids → ',').
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"
# The driver's correctness harness runs at sf0.01; the env override lets the
# local checker (scripts/check_correctness.py) exercise the same oracle SQL
# at other scales.
SF001 = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

ENTITY_LABEL_FILTER = ("PER", "ORG", "LOC")
TOP_CLUSTER_MIN_MENTIONS = 2
TOP_CLUSTER_LIMIT = 20


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG extraction over Common-Crawl-style pages derived
    from the sf0.001 documents table → (subj, pred, obj) triples."""
    from anno_spark.operators import extract as ex
    from anno_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, SF0001)
    extracted = ex.extract_documents(pages)
    return ex.triples_table(extracted)


# ===========================================================================
# materialized intermediates (shared across the KG queries; one extraction
# pass per process — VERDICT r01 fix #3)
# ===========================================================================


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anno_spark.sources.pages import pages_from_documents

    return pages_from_documents(spark, sf_dir)


def _ext(spark, sf_dir) -> DataFrame:
    """The nested extraction table, materialized once per process."""
    from anno_spark.operators import extract as ex
    from anno_spark.plans.materialize import materialize

    return materialize(
        ex.extract_documents(_pages(spark, sf_dir)), sf_dir, "kg_extracted"
    )


def _mentions(spark, sf_dir) -> DataFrame:
    """Exploded mentions + warc_ts (for first_seen), materialized."""
    from anno_spark.operators import extract as ex
    from anno_spark.plans.materialize import materialize

    m = ex.mentions_table(_ext(spark, sf_dir))
    ts = _pages(spark, sf_dir).select("url", "warc_ts")
    return materialize(m.join(ts, "url"), sf_dir, "kg_mentions")


def _triples(spark, sf_dir) -> DataFrame:
    from anno_spark.operators import extract as ex
    from anno_spark.plans.materialize import materialize

    return materialize(ex.triples_table(_ext(spark, sf_dir)), sf_dir, "kg_triples")


def _keys(spark, sf_dir) -> DataFrame:
    from anno_spark.operators import resolve as rx
    from anno_spark.plans.materialize import materialize

    return materialize(rx.surface_keys(_mentions(spark, sf_dir)), sf_dir, "kg_keys")


def _resolution(spark, sf_dir):
    """Alias edges, components and identities from ONE
    ``rx.resolve_keys`` call — the code bench.py and pipeline.run time —
    written once per process (kg_cdcr_edges, kg_components,
    kg_identities). The oracles read only kg_keys + kg_cdcr_edges and
    re-derive CC with a recursive CTE, so the cache cannot mask a CC bug."""
    from anno_spark.operators import resolve as rx
    from anno_spark.plans.materialize import materialize_all

    return rx.Resolution(
        *materialize_all(
            spark,
            sf_dir,
            ("kg_cdcr_edges", "kg_components", "kg_identities"),
            lambda: rx.resolve_keys(_keys(spark, sf_dir)),
        )
    )


def _keyed_surfaces(spark, sf_dir) -> DataFrame:
    comps = _resolution(spark, sf_dir).components
    return _keys(spark, sf_dir).join(comps, "key_id").select(
        "surface", "entity_type", F.col("component_id").alias("identity_id")
    )


_MENTION_COLS = [
    "url", "mention_idx", "text", "entity_type", "start", "end",
    "confidence", "pattern", "source", "negated", "quantifier",
]


# ===========================================================================
# KG pipeline queries
# ===========================================================================


def q_kg_mentions(spark, sf_dir):
    return _mentions(spark, sf_dir).select(*_MENTION_COLS)


def q_ner_label_filter(spark, sf_dir):
    from anno_spark.operators.extract import filter_mentions_by_label

    return filter_mentions_by_label(
        _mentions(spark, sf_dir), ENTITY_LABEL_FILTER
    ).select(*_MENTION_COLS)


def q_kg_triples(spark, sf_dir):
    return _triples(spark, sf_dir)


def q_kg_tracks(spark, sf_dir):
    t = _ext(spark, sf_dir).select("url", F.explode("tracks").alias("t")).select(
        "url", "t.*"
    )
    return t.select(
        "url",
        "track_id",
        "canonical_surface",
        "entity_type",
        F.concat_ws(
            ",", F.transform("signal_ids", lambda x: x.cast("string"))
        ).alias("signal_ids_csv"),
        F.size("signal_ids").alias("n_signals"),
    )


def q_kg_events(spark, sf_dir):
    from anno_spark.operators import extract as ex

    return ex.events_table(_ext(spark, sf_dir))


def _scalarized_identities(idents: DataFrame) -> DataFrame:
    return idents.withColumn("aliases", F.array_join("aliases", "|"))


def q_kg_identities(spark, sf_dir):
    return _scalarized_identities(_resolution(spark, sf_dir).identities).select(
        "identity_id", "canonical_name", "entity_type", "n_mentions", "n_docs",
        "n_surfaces", "aliases", "kb_id", "kb_description", "first_seen",
    )


def q_kg_nodes(spark, sf_dir):
    from anno_spark.operators import graph as g

    nodes = g.nodes_table(_resolution(spark, sf_dir).identities)
    return nodes.withColumn("aliases", F.array_join("aliases", "|"))


def q_kg_top_clusters(spark, sf_dir):
    from anno_spark.operators import resolve as rx

    top = rx.top_clusters(
        _resolution(spark, sf_dir).identities,
        min_mentions=TOP_CLUSTER_MIN_MENTIONS,
        limit=TOP_CLUSTER_LIMIT,
    )
    return _scalarized_identities(top).select(
        "identity_id", "canonical_name", "entity_type", "n_mentions", "n_docs",
        "n_surfaces", "aliases", "kb_id",
    )


def q_kg_edges(spark, sf_dir):
    from anno_spark.operators import graph as g

    nodes = g.nodes_table(_resolution(spark, sf_dir).identities)
    return g.edges_table(
        _triples(spark, sf_dir), _keyed_surfaces(spark, sf_dir), nodes
    )


def q_kg_extraction_metrics(spark, sf_dir):
    from anno_spark.operators import extract as ex
    from anno_spark.plans.materialize import materialize

    stats = materialize(
        ex.sharded_page_stats(_ext(spark, sf_dir)), sf_dir, "kg_page_stats"
    )
    return ex.metrics_from_stats(stats)


def q_kg_cooccurrence(spark, sf_dir):
    from anno_spark.operators.graph import cooccurrence_edges

    return cooccurrence_edges(_mentions(spark, sf_dir), max_distance=100)


def _graph_tables(spark, sf_dir):
    """The materialized KG node/edge tables shared by the communities and
    export queries — their DuckDB oracles re-derive from these parquet
    bytes (unrolled local moving / SQL string building)."""
    from anno_spark.operators import graph as g
    from anno_spark.plans.materialize import materialize

    nodes = g.nodes_table(_resolution(spark, sf_dir).identities)
    edges = g.edges_table(
        _triples(spark, sf_dir), _keyed_surfaces(spark, sf_dir), nodes
    )
    gnodes = materialize(
        nodes.select("node_id", "name", "node_type", "n_mentions"),
        sf_dir,
        "kg_graph_nodes",
    )
    gedges = materialize(
        edges.select("src_node", "dst_node", "relation", "confidence"),
        sf_dir,
        "kg_graph_edges",
    )
    return gnodes, gedges


def q_kg_communities(spark, sf_dir):
    """L1 Leiden local moving. The node/edge inputs are materialized so
    the DuckDB oracle (plans/oracles.kg_communities) can re-run the SAME
    direction-alternating rounds as unrolled SQL CTEs — the r02 scoreboard
    gap (`err: no_oracle`) closed per VERDICT r02 next #2."""
    from anno_spark.operators.communities import leiden_communities

    gnodes, gedges = _graph_tables(spark, sf_dir)
    return leiden_communities(
        gnodes, gedges, resolution=1.0, weight_col="confidence"
    )


def q_kg_communities_alt(spark, sf_dir):
    """L2 hierarchical Leiden and the LPA fallback folded into ONE
    driver row (surface-cap fold, VERDICT r03 next #1): (method,
    node_id, level_0, level_1). LPA's single label rides as level_0
    with level_1 = '' — both sub-results keep full hash fidelity."""
    from anno_spark.operators.communities import (
        hierarchical_communities,
        label_propagation,
    )

    gnodes, gedges = _graph_tables(spark, sf_dir)
    l2 = hierarchical_communities(
        gnodes, gedges, levels=2, resolution=1.0, weight_col="confidence"
    ).select(F.lit("l2").alias("method"), "node_id", "level_0", "level_1")
    lpa = label_propagation(
        gnodes.select("node_id"), gedges, weight_col="confidence"
    ).select(
        F.lit("lpa").alias("method"),
        "node_id",
        F.col("community_id").alias("level_0"),
        F.lit("").alias("level_1"),
    )
    return l2.unionByName(lpa)


def q_kg_export_cypher(spark, sf_dir):
    """S5 driver-visible: the DISTRIBUTED Cypher renderer (one statement
    per row, all string building in JVM expressions) over the
    materialized graph; the oracle rebuilds every statement with SQL
    string functions (escape, identifier sanitize, interpolation)."""
    from anno_spark.operators.exports import cypher_statements

    gnodes, gedges = _graph_tables(spark, sf_dir)
    return cypher_statements(gnodes, gedges)


def q_kg_entity_links(spark, sf_dir):
    from anno_spark.operators import linking
    from anno_spark.plans.materialize import materialize

    keys = _keys(spark, sf_dir)
    idx = linking.build_kb_index(spark, linking.demo_kb(spark))
    materialize(
        idx["aliases"].select("alias_id", "alias", "kb_id", "description"),
        sf_dir,
        "link_kb",
    )
    cands = materialize(
        linking.link_candidates(keys, idx), sf_dir, "link_candidates"
    )
    return linking.link_surfaces(keys, idx, candidates=cands)


# ===========================================================================
# Oracle-checked NER pattern queries (probe text derived identically in SQL)
# ===========================================================================

# Spark + DuckDB build the SAME probe column from documents:
_PROBE_SQL = (
    "concat('Contact bob', cast(doc_id % 97 as varchar), '@example.com on 2024-01-', "
    "lpad(cast(doc_id % 27 + 1 as varchar), 2, '0'), ' about ', "
    "cast(doc_id % 100 as varchar), '% of the $', cast(doc_id % 500 as varchar), "
    "' budget. ', text)"
)


def _probe_df(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("Contact bob"),
            (F.col("doc_id") % 97).cast("string"),
            F.lit("@example.com on 2024-01-"),
            F.lpad((F.col("doc_id") % 27 + 1).cast("string"), 2, "0"),
            F.lit(" about "),
            (F.col("doc_id") % 100).cast("string"),
            F.lit("% of the $"),
            (F.col("doc_id") % 500).cast("string"),
            F.lit(" budget. "),
            F.col("text"),
        ).alias("probe_text"),
    )


# ---------------------------------------------------------------------------
# Probe scheme round 3 (VERDICT r02 next #1): a second planted probe for
# the new regex families (multilingual date / 24h time / intl phone /
# URL), plus FULL-STACK extraction probes whose DuckDB oracles derive the
# expected mentions/triples/tracks purely positionally from the planted
# template — they never read Spark-materialized extraction parquet.
#
# Planted text is deliberately ALL-ASCII (months in their unaccented
# variants, which the reference pattern accepts): Python re and RE2 use
# different \b / \s definitions on non-ASCII, and the probe must isolate
# engine-differential regex behavior, not dialect divergence.

_FR_MONTHS = (
    "janvier", "fevrier", "mars", "avril", "mai", "juin",
    "juillet", "aout", "septembre", "octobre", "novembre", "decembre",
)

# 24 single-word ASCII orgs from the reference gazetteer
# (heuristic.rs:163-292 / core.heuristic_ner.KNOWN_ORGS), display-cased.
_PROBE_ORGS = (
    "Google", "Apple", "Microsoft", "Amazon", "Facebook", "Meta",
    "Tesla", "Twitter", "Ibm", "Intel", "Nvidia", "Oracle", "Cisco",
    "Samsung", "Sony", "Toyota", "Honda", "Bmw", "Mercedes",
    "Volkswagen", "Nasa", "Spotify", "Netflix", "Uber",
)

# 16 single-word first names from KNOWN_PERSONS (heuristic.rs:163-292).
_PROBE_PERSONS = (
    "John", "Jane", "Mary", "James", "Robert", "Michael", "William",
    "David", "Richard", "Joseph", "Thomas", "Charles", "Elon", "Jeff",
    "Satya", "Sundar",
)


def _sql_strs(vals) -> str:
    return "[" + ", ".join(f"'{v}'" for v in vals) + "]"


def _probe2_df(spark, sf_dir):
    """Spark-side construction of the round-3 probe text; must mirror
    :data:`_PROBE2_SQL` expression-for-expression."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    month = F.element_at(
        F.array(*[F.lit(m) for m in _FR_MONTHS]), (did % 12 + 1).cast("int")
    )
    month = F.when(
        did % 3 == 0, F.concat(F.upper(F.substring(month, 1, 1)), F.substring(month, 2, 100))
    ).otherwise(month)
    probe = F.concat(
        F.lit("rdv le "),
        (did % 28 + 1).cast("string"),
        F.when(did % 11 == 0, F.lit("er")).otherwise(F.lit("")),
        F.lit(" "),
        month,
        F.when(did % 2 == 0, F.concat(F.lit(" "), (did % 7 + 2019).cast("string"))).otherwise(F.lit("")),
        F.lit(", at "),
        F.lpad((did % 24).cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((did % 60).cast("string"), 2, "0"),
        F.when(
            did % 4 == 0,
            F.concat(F.lit(":"), F.lpad((did * 7 % 60).cast("string"), 2, "0")),
        ).otherwise(F.lit("")),
        F.lit(" call +"),
        (did % 99 + 1).cast("string"),
        F.lit("-"),
        (did % 800 + 200).cast("string"),
        F.lit("-"),
        (did * 3 % 9000 + 1000).cast("string"),
        F.lit(" see https://ex"),
        (did % 50).cast("string"),
        F.lit(".org/p/"),
        did.cast("string"),
        F.lit(" . "),
        F.col("text"),
    )
    return d.select("doc_id", probe.alias("probe_text"))


_PROBE2_SQL = (
    "concat('rdv le ', cast(doc_id % 28 + 1 as varchar), "
    "CASE WHEN doc_id % 11 = 0 THEN 'er' ELSE '' END, ' ', "
    "CASE WHEN doc_id % 3 = 0 THEN upper(substr(" + _sql_strs(_FR_MONTHS) + "[cast(doc_id % 12 as int) + 1], 1, 1)) || substr(" + _sql_strs(_FR_MONTHS) + "[cast(doc_id % 12 as int) + 1], 2) "
    "     ELSE " + _sql_strs(_FR_MONTHS) + "[cast(doc_id % 12 as int) + 1] END, "
    "CASE WHEN doc_id % 2 = 0 THEN ' ' || cast(doc_id % 7 + 2019 as varchar) ELSE '' END, "
    "', at ', lpad(cast(doc_id % 24 as varchar), 2, '0'), ':', "
    "lpad(cast(doc_id % 60 as varchar), 2, '0'), "
    "CASE WHEN doc_id % 4 = 0 THEN ':' || lpad(cast(doc_id * 7 % 60 as varchar), 2, '0') ELSE '' END, "
    "' call +', cast(doc_id % 99 + 1 as varchar), '-', "
    "cast(doc_id % 800 + 200 as varchar), '-', cast(doc_id * 3 % 9000 + 1000 as varchar), "
    "' see https://ex', cast(doc_id % 50 as varchar), '.org/p/', cast(doc_id as varchar), "
    "' . ', text)"
)


# ---------------------------------------------------------------------------
# Round-4 surface folding (VERDICT r03 next #1): the driver's correctness
# sweep records at most 50 rows (r01=33, r02=43, r03=50 of 58 — the last
# 8 queries() entries were silently dropped). Same-schema query families
# are folded into composite rows carrying a tag column, so EVERY value of
# every sub-query still reaches the driver's hash — nothing is digested
# away — and the total surface fits the cap with margin (48 entries).

_PATTERN_FAMILIES_A = (
    ("emails", "EMAIL"),
    ("iso_dates", "DATE_ISO"),
    ("percent", "PERCENT"),
    ("money", "MONEY_SYMBOL"),
)
_PATTERN_FAMILIES_B = (
    ("dates_fr", "DATE_FRENCH_EU"),
    ("times_24h", "TIME_24H"),
    ("phones_intl", "PHONE_INTL"),
    ("urls", "URL"),
)


def q_ner_patterns(spark, sf_dir):
    """All 8 regex-NER probe families as ONE row: (family, doc_id,
    mention). Families A run over the round-2 planted probe, families B
    over the round-3 probe; both remain independent-engine differentials
    (Python re on Spark vs RE2 on DuckDB)."""
    from functools import reduce

    from anno_spark.functions import pattern_matches

    p1 = _probe_df(spark, sf_dir)
    p2 = _probe2_df(spark, sf_dir)
    parts = [
        pattern_matches(p1, name).select(
            F.lit(fam).alias("family"), "doc_id", "mention"
        )
        for fam, name in _PATTERN_FAMILIES_A
    ] + [
        pattern_matches(p2, name).select(
            F.lit(fam).alias("family"), "doc_id", "mention"
        )
        for fam, name in _PATTERN_FAMILIES_B
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _ner_patterns_oracle() -> str:
    from anno_spark.functions.patterns import ORACLE_SAFE_PATTERNS

    arms = []
    for probe, fams in (("probe1", _PATTERN_FAMILIES_A), ("probe2", _PATTERN_FAMILIES_B)):
        for fam, name in fams:
            pat = ORACLE_SAFE_PATTERNS[name].replace("'", "''")
            arms.append(
                f"SELECT '{fam}' AS family, doc_id, "
                f"unnest(regexp_extract_all(probe_text, '{pat}')) AS mention "
                f"FROM {probe}"
            )
    return (
        f"WITH probe1 AS MATERIALIZED (SELECT doc_id, {_PROBE_SQL} AS probe_text FROM documents), "
        f"probe2 AS MATERIALIZED (SELECT doc_id, {_PROBE2_SQL} AS probe_text FROM documents) "
        + " UNION ALL ".join(arms)
    )


def _gaz_probe_pages(spark, sf_dir):
    """'on monday <Org1> told reporters that <Org2> was ready.' — the only
    capitalized words are planted gazetteer orgs, so the heuristic NER's
    known_org path (heuristic.rs:163-292, 650-754) fires exactly twice
    per page at positions derivable from the org-name lengths alone."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pool = F.array(*[F.lit(o) for o in _PROBE_ORGS])
    o1 = F.element_at(pool, (did % 24 + 1).cast("int"))
    o2 = F.element_at(pool, ((did * 7 + 3) % 24 + 1).cast("int"))
    text = F.concat(
        F.lit("on monday "), o1, F.lit(" told reporters that "), o2, F.lit(" was ready.")
    )
    return d.select(did.cast("string").alias("url"), text.alias("text"))


def q_ner_gazetteer_orgs(spark, sf_dir):
    """Full extraction stack (regex + heuristic + stacked merge) over the
    gazetteer probe pages; the oracle re-derives every known_org mention
    positionally in pure SQL — no Spark-materialized input."""
    from anno_spark.operators import extract as ex

    m = ex.mentions_table(ex.extract_documents(_gaz_probe_pages(spark, sf_dir)))
    return m.where(F.col("pattern") == "known_org").select(
        F.col("url").cast("bigint").alias("doc_id"),
        "text", "entity_type", "start", "end", "confidence",
    )


_GAZ_ORACLE = f"""
    WITH p AS (
      SELECT doc_id,
             {_sql_strs(_PROBE_ORGS)}[cast(doc_id % 24 as int) + 1] AS o1,
             {_sql_strs(_PROBE_ORGS)}[cast((doc_id * 7 + 3) % 24 as int) + 1] AS o2
      FROM documents)
    SELECT doc_id, o1 AS text, 'ORG' AS entity_type,
           CAST(10 AS INTEGER) AS start,
           CAST(10 + length(o1) AS INTEGER) AS "end",
           0.8 AS confidence
    FROM p
    UNION ALL
    SELECT doc_id, o2, 'ORG',
           CAST(31 + length(o1) AS INTEGER),
           CAST(31 + length(o1) + length(o2) AS INTEGER),
           0.8
    FROM p
"""


def _rel_probe_pages(spark, sf_dir):
    """'earlier <Person> founded <Org> quietly.' — exactly one PER and one
    ORG mention 9 chars apart, and the between-text ' founded ' hits the
    CEO_OF trigger list BEFORE the FOUNDED slug (the reference's
    source-order quirk, inference.rs:2097-2128) → exactly one
    (Person, CEO_OF, Org) triple per page, positionally derivable."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    p = F.element_at(F.array(*[F.lit(x) for x in _PROBE_PERSONS]), (did % 16 + 1).cast("int"))
    o = F.element_at(F.array(*[F.lit(x) for x in _PROBE_ORGS]), ((did * 5 + 1) % 24 + 1).cast("int"))
    text = F.concat(F.lit("earlier "), p, F.lit(" founded "), o, F.lit(" quietly."))
    return d.select(did.cast("string").alias("url"), text.alias("text"))


def q_kg_probe_triples(spark, sf_dir):
    from anno_spark.operators import extract as ex

    t = ex.triples_table(ex.extract_documents(_rel_probe_pages(spark, sf_dir)))
    return t.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "subj_text", "subj_type", "subj_start", "subj_end", "pred",
        "obj_text", "obj_type", "obj_start", "obj_end",
        "trigger_start", "trigger_end", "confidence",
    )


_REL_PROBE_POOL_SQL = f"""
      SELECT doc_id,
             {_sql_strs(_PROBE_PERSONS)}[cast(doc_id % 16 as int) + 1] AS pn,
             {_sql_strs(_PROBE_ORGS)}[cast((doc_id * 5 + 1) % 24 as int) + 1] AS og
      FROM documents
"""

_REL_PROBE_ORACLE = f"""
    WITH p AS ({_REL_PROBE_POOL_SQL})
    SELECT doc_id,
           pn AS subj_text, 'PER' AS subj_type,
           CAST(8 AS INTEGER) AS subj_start,
           CAST(8 + length(pn) AS INTEGER) AS subj_end,
           'CEO_OF' AS pred,
           og AS obj_text, 'ORG' AS obj_type,
           CAST(17 + length(pn) AS INTEGER) AS obj_start,
           CAST(17 + length(pn) + length(og) AS INTEGER) AS obj_end,
           CAST(9 + length(pn) AS INTEGER) AS trigger_start,
           CAST(16 + length(pn) AS INTEGER) AS trigger_end,
           0.8 AS confidence
    FROM p
"""


def q_kg_probe_tracks(spark, sf_dir):
    """Coref track formation (C2, utils.rs:424-470) over the relation
    probe pages: per page exactly two single-signal tracks — track 0 the
    person (signal 0), track 1 the org (signal 1), canonical surface =
    lowercased mention text."""
    from anno_spark.operators import extract as ex

    ext = ex.extract_documents(_rel_probe_pages(spark, sf_dir))
    t = ext.select("url", F.explode("tracks").alias("t")).select("url", "t.*")
    return t.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "track_id", "canonical_surface", "entity_type",
        F.concat_ws(",", F.transform("signal_ids", lambda x: x.cast("string"))).alias("signal_ids_csv"),
        F.size("signal_ids").alias("n_signals"),
    )


_TRACK_PROBE_ORACLE = f"""
    WITH p AS ({_REL_PROBE_POOL_SQL})
    SELECT doc_id, CAST(0 AS INTEGER) AS track_id, lower(pn) AS canonical_surface,
           'PER' AS entity_type, '0' AS signal_ids_csv, CAST(1 AS INTEGER) AS n_signals
    FROM p
    UNION ALL
    SELECT doc_id, CAST(1 AS INTEGER), lower(og), 'ORG', '1', CAST(1 AS INTEGER)
    FROM p
"""


def q_kg_probe_rel_eval(spark, sf_dir):
    """E2 driver-visible: strict triple matching (head span + tail span
    exact, relation case-insensitive, 1-1) of the REAL relation
    extractor against a planted gold with controlled errors — gold omits
    the triple when doc_id%7==0 (→ FP) and adds a phantom triple when
    doc_id%4==0 (→ FN). Counts computed by eval/relation_eval; the
    oracle re-derives predictions positionally and recomputes the strict
    full-outer-join matching in SQL."""
    from anno_spark.eval.relation_eval import strict_match_counts
    from anno_spark.operators import extract as ex

    t = ex.triples_table(ex.extract_documents(_rel_probe_pages(spark, sf_dir)))
    pred = t.select("url", "subj_start", "subj_end", "obj_start", "obj_end", "pred")
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pn = F.element_at(
        F.array(*[F.lit(x) for x in _PROBE_PERSONS]), (did % 16 + 1).cast("int")
    )
    og = F.element_at(
        F.array(*[F.lit(x) for x in _PROBE_ORGS]), ((did * 5 + 1) % 24 + 1).cast("int")
    )
    url = did.cast("string")
    lp = F.length(pn)
    g1 = d.where(did % 7 != 0).select(
        url.alias("url"),
        F.lit(8).alias("subj_start"), (F.lit(8) + lp).alias("subj_end"),
        (F.lit(17) + lp).alias("obj_start"),
        (F.lit(17) + lp + F.length(og)).alias("obj_end"),
        F.lit("ceo_of").alias("pred"),  # case-insensitive match exercised
    )
    g2 = d.where(did % 4 == 0).select(
        url.alias("url"),
        F.lit(900).alias("subj_start"), F.lit(905).alias("subj_end"),
        F.lit(910).alias("obj_start"), F.lit(915).alias("obj_end"),
        F.lit("FOUNDED").alias("pred"),
    )
    return strict_match_counts(pred, g1.unionByName(g2))


_REL_EVAL_PROBE_ORACLE = f"""
    WITH p AS ({_REL_PROBE_POOL_SQL}),
    pred AS (
      SELECT CAST(doc_id AS VARCHAR) AS url,
             8 AS subj_start, 8 + length(pn) AS subj_end,
             17 + length(pn) AS obj_start,
             17 + length(pn) + length(og) AS obj_end,
             'ceo_of' AS pred_lower
      FROM p),
    gold AS (
      SELECT CAST(doc_id AS VARCHAR) AS url,
             8 AS subj_start, 8 + length(pn) AS subj_end,
             17 + length(pn) AS obj_start,
             17 + length(pn) + length(og) AS obj_end,
             'ceo_of' AS pred_lower
      FROM p WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT CAST(doc_id AS VARCHAR), 900, 905, 910, 915, 'founded'
      FROM p WHERE doc_id % 4 = 0),
    pk AS (SELECT url, subj_start, subj_end, obj_start, obj_end, pred_lower,
                  count(*) AS n_pred FROM pred GROUP BY 1, 2, 3, 4, 5, 6),
    gk AS (SELECT url, subj_start, subj_end, obj_start, obj_end, pred_lower,
                  count(*) AS n_gold FROM gold GROUP BY 1, 2, 3, 4, 5, 6),
    j AS (SELECT coalesce(n_pred, 0) AS n_pred, coalesce(n_gold, 0) AS n_gold
          FROM pk FULL OUTER JOIN gk USING (url, subj_start, subj_end,
                                            obj_start, obj_end, pred_lower))
    SELECT CAST(sum(n_pred) AS BIGINT) AS n_pred,
           CAST(sum(n_gold) AS BIGINT) AS n_gold,
           CAST(sum(least(n_pred, n_gold)) AS BIGINT) AS n_matched
    FROM j
"""


def q_kg_probe_events(spark, sf_dir):
    """R2 driver-visible without Spark-materialized input: the relation
    probe template yields exactly one event per page — trigger 'founded'
    (business:event, positive, past, 0.8) with the person as Agent and
    the org as Patient (events.rs ACE-style argument filling) — every
    field positionally derivable in SQL."""
    from anno_spark.operators import extract as ex

    ev = ex.events_table(ex.extract_documents(_rel_probe_pages(spark, sf_dir)))
    return ev.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "trigger", "trigger_start", "trigger_end", "event_type",
        "polarity", "tense", "confidence", "agent", "patient",
    )


_EVENT_PROBE_ORACLE = f"""
    WITH p AS ({_REL_PROBE_POOL_SQL})
    SELECT doc_id, 'founded' AS "trigger",
           CAST(9 + length(pn) AS INTEGER) AS trigger_start,
           CAST(16 + length(pn) AS INTEGER) AS trigger_end,
           'business:event' AS event_type, 'positive' AS polarity,
           'past' AS tense, 0.8 AS confidence,
           pn AS agent, og AS patient
    FROM p
"""


def q_kg_probe_page_stats(spark, sf_dir):
    """The per-page lineage-count layer (page_stats: size() over the
    extraction arrays) independently driver-checked: every relation
    probe page has exactly 2 mentions, 1 triple, 2 tracks, 1 event,
    truncated=0 — constants the oracle derives from the template."""
    from anno_spark.operators import extract as ex

    st = ex.page_stats(ex.extract_documents(_rel_probe_pages(spark, sf_dir)))
    return st.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "n_mentions", "n_triples", "n_tracks", "n_events", "truncated",
    )


_PAGE_STATS_PROBE_ORACLE = """
    SELECT doc_id, CAST(2 AS INTEGER) AS n_mentions,
           CAST(1 AS INTEGER) AS n_triples, CAST(2 AS INTEGER) AS n_tracks,
           CAST(1 AS INTEGER) AS n_events, CAST(0 AS INTEGER) AS truncated
    FROM documents
"""


def q_kg_probe_ner_eval(spark, sf_dir):
    """E1 driver-visible: exact-mode NER P/R/F1 of the REAL extraction
    stack against a planted gold with controlled errors — gold omits the
    second org when doc_id%5==0 (→ false positives) and adds a phantom
    mention when doc_id%3==0 (→ false negatives). The oracle re-derives
    pred positionally AND recomputes the full-outer-join PRF in SQL."""
    from anno_spark.eval.ner_eval import ner_prf_exact_df
    from anno_spark.operators import extract as ex

    m = ex.mentions_table(ex.extract_documents(_gaz_probe_pages(spark, sf_dir)))
    pred = m.where(F.col("pattern") == "known_org").select(
        "url", "start", "end", "entity_type"
    )
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pool = F.array(*[F.lit(o) for o in _PROBE_ORGS])
    o1 = F.element_at(pool, (did % 24 + 1).cast("int"))
    o2 = F.element_at(pool, ((did * 7 + 3) % 24 + 1).cast("int"))
    url = did.cast("string")
    g1 = d.select(
        url.alias("url"), F.lit(10).alias("start"),
        (F.lit(10) + F.length(o1)).alias("end"), F.lit("ORG").alias("entity_type"),
    )
    g2 = d.where(did % 5 != 0).select(
        url.alias("url"), (F.lit(31) + F.length(o1)).alias("start"),
        (F.lit(31) + F.length(o1) + F.length(o2)).alias("end"),
        F.lit("ORG").alias("entity_type"),
    )
    g3 = d.where(did % 3 == 0).select(
        url.alias("url"), F.lit(997).alias("start"), F.lit(999).alias("end"),
        F.lit("ORG").alias("entity_type"),
    )
    gold = g1.unionByName(g2).unionByName(g3)
    return ner_prf_exact_df(pred, gold)


_NER_EVAL_PROBE_ORACLE = f"""
    WITH p AS (
      SELECT doc_id, CAST(doc_id AS VARCHAR) AS url,
             {_sql_strs(_PROBE_ORGS)}[cast(doc_id % 24 as int) + 1] AS o1,
             {_sql_strs(_PROBE_ORGS)}[cast((doc_id * 7 + 3) % 24 as int) + 1] AS o2
      FROM documents),
    pred AS (
      SELECT url, 10 AS start, 10 + length(o1) AS "end", 'ORG' AS entity_type FROM p
      UNION ALL
      SELECT url, 31 + length(o1), 31 + length(o1) + length(o2), 'ORG' FROM p),
    gold AS (
      SELECT url, 10 AS start, 10 + length(o1) AS "end", 'ORG' AS entity_type FROM p
      UNION ALL
      SELECT url, 31 + length(o1), 31 + length(o1) + length(o2), 'ORG'
      FROM p WHERE doc_id % 5 <> 0
      UNION ALL
      SELECT url, 997, 999, 'ORG' FROM p WHERE doc_id % 3 = 0),
    pk AS (SELECT url, start, "end", entity_type, count(*) AS n_pred
           FROM pred GROUP BY 1, 2, 3, 4),
    gk AS (SELECT url, start, "end", entity_type, count(*) AS n_gold
           FROM gold GROUP BY 1, 2, 3, 4),
    j AS (SELECT coalesce(pk.n_pred, 0) AS n_pred, coalesce(gk.n_gold, 0) AS n_gold
          FROM pk FULL OUTER JOIN gk
            ON pk.url = gk.url AND pk.start = gk.start
           AND pk."end" = gk."end" AND pk.entity_type = gk.entity_type),
    agg AS (SELECT CAST(sum(n_pred) AS BIGINT) AS n_pred,
                   CAST(sum(n_gold) AS BIGINT) AS n_gold,
                   CAST(sum(least(n_pred, n_gold)) AS BIGINT) AS n_matched
            FROM j)
    SELECT round(CASE WHEN n_pred > 0 THEN n_matched * 1.0 / n_pred ELSE 0.0 END, 6) AS precision,
           round(CASE WHEN n_gold > 0 THEN n_matched * 1.0 / n_gold ELSE 0.0 END, 6) AS recall,
           round(CASE WHEN n_matched > 0
                      THEN 2.0 * (n_matched * 1.0 / n_pred) * (n_matched * 1.0 / n_gold)
                           / ((n_matched * 1.0 / n_pred) + (n_matched * 1.0 / n_gold))
                      ELSE 0.0 END, 6) AS f1,
           n_pred, n_gold, n_matched
    FROM agg
"""


# ---------------------------------------------------------------------------
# Round-4 probes: confidence calibration (calibration.rs:143-260) and
# extraction drift (drift.rs:360-476) made driver-visible. Both run the
# REAL extraction stack over planted templates; both oracles re-derive
# every mention (confidence, correctness, window, surface) positionally
# and recompute the metrics from scratch in SQL.

_PROBE_LOCS = (
    "Paris", "London", "Tokyo", "Berlin", "Rome", "Madrid", "Moscow",
    "Beijing", "Shanghai", "Dubai", "Singapore", "Sydney", "Toronto",
    "Chicago", "Boston",
)


def _calib_pools(did):
    o = F.element_at(
        F.array(*[F.lit(x) for x in _PROBE_ORGS]), (did % 24 + 1).cast("int")
    )
    half = F.floor(did / F.lit(2)).cast("bigint")
    p = F.element_at(
        F.array(*[F.lit(x) for x in _PROBE_PERSONS]),
        (half % 16 + 1).cast("int"),
    )
    loc = F.element_at(
        F.array(*[F.lit(x) for x in _PROBE_LOCS]), (half % 15 + 1).cast("int")
    )
    return o, p, loc


def q_kg_probe_calibration(spark, sf_dir):
    """Calibration of the real extractor's confidences against a planted
    gold with per-family accuracy CONTROLLED to differ from confidence:
    org-suffix mentions (conf .85, even docs) are correct only when
    doc_id%4==0 (acc .5 — overconfident); plain gazetteer orgs (conf .8,
    odd docs) always correct; persons (conf .75) correct at 3/4 —
    perfectly calibrated; locations (conf .8) correct at 4/5. →
    reliability bins + ECE/MCE/Brier (eval/calibration.py)."""
    from anno_spark.eval.calibration import reliability_table
    from anno_spark.operators import extract as ex

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    o, p, loc = _calib_pools(did)
    orgtext = F.when(did % 2 == 0, F.concat(o, F.lit(" Corp"))).otherwise(o)
    text = F.concat(
        F.lit("on monday "), orgtext, F.lit(" told reporters that "), p,
        F.lit(" was pleased in "), loc, F.lit("."),
    )
    pages = d.select(did.cast("string").alias("url"), text.alias("text"))
    pred = ex.mentions_table(ex.extract_documents(pages)).select(
        "url", "start", "end", "entity_type", "confidence"
    )
    # positional gold with planted omissions
    url = did.cast("string").alias("url")
    lo_, lp, ll = F.length(orgtext), F.length(p), F.length(loc)
    g_org = d.where((did % 2 == 1) | (did % 4 == 0)).select(
        url, F.lit(10).alias("start"), (F.lit(10) + lo_).alias("end"),
        F.lit("ORG").alias("entity_type"),
    )
    g_per = d.where(did % 4 != 1).select(
        url, (F.lit(31) + lo_).alias("start"),
        (F.lit(31) + lo_ + lp).alias("end"), F.lit("PER").alias("entity_type"),
    )
    g_loc = d.where(did % 5 != 0).select(
        url, (F.lit(47) + lo_ + lp).alias("start"),
        (F.lit(47) + lo_ + lp + ll).alias("end"),
        F.lit("LOC").alias("entity_type"),
    )
    gold = g_org.unionByName(g_per).unionByName(g_loc).withColumn(
        "in_gold", F.lit(1)
    )
    preds = pred.join(
        gold, ["url", "start", "end", "entity_type"], "left"
    ).select("confidence", F.col("in_gold").isNotNull().alias("correct"))
    return reliability_table(preds)


_CALIB_PROBE_ORACLE = """
    WITH m AS (
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 0.85 ELSE 0.8 END AS DOUBLE) AS conf,
             CASE WHEN (doc_id % 2 = 1) OR (doc_id % 4 = 0) THEN 1 ELSE 0 END AS ok
      FROM documents
      UNION ALL
      SELECT doc_id, CAST(0.75 AS DOUBLE), CASE WHEN doc_id % 4 <> 1 THEN 1 ELSE 0 END FROM documents
      UNION ALL
      SELECT doc_id, CAST(0.8 AS DOUBLE), CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END FROM documents),
    binned AS (
      SELECT conf, ok, least(CAST(floor(conf * 10) AS INT), 9) AS bin FROM m),
    per_bin AS (
      SELECT bin, count(*) AS count, avg(conf) AS avg_confidence,
             avg(CAST(ok AS DOUBLE)) AS accuracy
      FROM binned GROUP BY bin),
    pb AS (
      SELECT bin, bin / 10.0 AS range_start, (bin + 1) / 10.0 AS range_end,
             count, avg_confidence, accuracy,
             abs(accuracy - avg_confidence) AS calibration_error
      FROM per_bin),
    gl AS (
      SELECT sum(count * calibration_error) / sum(count) AS ece,
             max(calibration_error) AS mce,
             CAST(sum(count) AS BIGINT) AS total_predictions
      FROM pb),
    cs AS (
      SELECT avg((conf - ok) * (conf - ok)) AS brier_score,
             coalesce(avg(CASE WHEN ok = 1 THEN conf END), 0.0) AS avg_confidence_correct,
             coalesce(avg(CASE WHEN ok = 0 THEN conf END), 0.0) AS avg_confidence_incorrect
      FROM binned)
    SELECT pb.bin, round(pb.range_start, 6) AS range_start,
           round(pb.range_end, 6) AS range_end, pb.count,
           round(pb.avg_confidence, 6) AS avg_confidence,
           round(pb.accuracy, 6) AS accuracy,
           round(pb.calibration_error, 6) AS calibration_error,
           round(gl.ece, 6) AS ece, round(gl.mce, 6) AS mce,
           round(cs.brier_score, 6) AS brier_score,
           round(cs.avg_confidence_correct, 6) AS avg_confidence_correct,
           round(cs.avg_confidence_incorrect, 6) AS avg_confidence_incorrect,
           round(cs.avg_confidence_correct - cs.avg_confidence_incorrect, 6) AS confidence_gap,
           gl.total_predictions
    FROM pb, gl, cs
"""


def q_kg_probe_drift(spark, sf_dir):
    """Drift of the real extractor between two planted corpus windows:
    window 0 (even docs) pages carry ORG(.8)+PER(.75); window 1 (odd)
    pages carry 'ORG Corp'(.85)+PER(.75)+LOC(.8) — a NEW entity type,
    share decreases for both baseline types, a +.025 confidence shift,
    and 27-of-43 new vocabulary surfaces (the org pool index is doc_id
    % 24, so each window sees its own 12 orgs; persons are shared via
    the doc_id//2 index). → one row (eval/drift.py: KL ε-smoothed,
    ±0.05 share thresholds)."""
    from anno_spark.eval.drift import drift_report
    from anno_spark.operators import extract as ex

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    o, p, loc = _calib_pools(did)
    text = F.when(
        did % 2 == 0,
        F.concat(
            F.lit("on monday "), o, F.lit(" told reporters that "), p,
            F.lit(" was pleased."),
        ),
    ).otherwise(
        F.concat(
            F.lit("on monday "), o, F.lit(" Corp told reporters that "), p,
            F.lit(" was pleased in "), loc, F.lit("."),
        )
    )
    pages = d.select(did.cast("string").alias("url"), text.alias("text"))
    m = ex.mentions_table(ex.extract_documents(pages))
    preds = m.select(
        (F.col("url").cast("bigint") % 2).alias("window"),
        "entity_type",
        "confidence",
        F.col("text").alias("surface"),
    )
    return drift_report(preds, surface_col="surface")


_DRIFT_PROBE_ORACLE = f"""
    WITH p AS (
      SELECT doc_id, doc_id % 2 AS w,
             {_sql_strs(_PROBE_ORGS)}[CAST(doc_id % 24 AS INT) + 1] AS o,
             {_sql_strs(_PROBE_PERSONS)}[CAST(CAST(floor(doc_id / 2) AS BIGINT) % 16 AS INT) + 1] AS pn,
             {_sql_strs(_PROBE_LOCS)}[CAST(CAST(floor(doc_id / 2) AS BIGINT) % 15 AS INT) + 1] AS lc
      FROM documents),
    m AS (
      SELECT w, 'ORG' AS etype,
             CAST(CASE WHEN w = 0 THEN 0.8 ELSE 0.85 END AS DOUBLE) AS conf,
             CASE WHEN w = 0 THEN o ELSE o || ' Corp' END AS surface
      FROM p
      UNION ALL
      SELECT w, 'PER', CAST(0.75 AS DOUBLE), pn FROM p
      UNION ALL
      SELECT w, 'LOC', CAST(0.8 AS DOUBLE), lc FROM p WHERE w = 1),
    conf AS (
      SELECT avg(CASE WHEN w = 0 THEN conf END) AS b_mean,
             avg(CASE WHEN w = 1 THEN conf END) AS c_mean
      FROM m),
    tc AS (SELECT w, etype, count(*) AS n FROM m GROUP BY 1, 2),
    tot AS (SELECT w, sum(n) AS total FROM tc GROUP BY 1),
    sh AS (SELECT tc.w, etype, n * 1.0 / total AS prob
           FROM tc JOIN tot ON tc.w = tot.w),
    j AS (
      SELECT c.etype, c.prob AS p_cur, b.prob AS p_base
      FROM (SELECT * FROM sh WHERE w = 1) c
      LEFT JOIN (SELECT * FROM sh WHERE w = 0) b USING (etype)),
    dist AS (
      SELECT sum(p_cur * ln(p_cur / coalesce(p_base, 1e-10))) AS kl,
             sum(CASE WHEN p_base IS NULL THEN 1 ELSE 0 END) AS n_new,
             sum(CASE WHEN p_base IS NOT NULL AND p_cur - p_base > 0.05
                      THEN 1 ELSE 0 END) AS n_inc,
             sum(CASE WHEN p_base IS NOT NULL AND p_cur - p_base < -0.05
                      THEN 1 ELSE 0 END) AS n_dec
      FROM j),
    vocab AS (
      SELECT (SELECT count(DISTINCT surface) FROM m WHERE w = 1
              AND surface NOT IN (SELECT surface FROM m WHERE w = 0)) * 1.0
             / (SELECT count(DISTINCT surface) FROM m WHERE w = 1) AS rate)
    SELECT round(conf.b_mean, 6) AS baseline_mean_conf,
           round(conf.c_mean, 6) AS current_mean_conf,
           round(conf.c_mean - conf.b_mean, 6) AS drift_amount,
           abs(conf.c_mean - conf.b_mean) > 0.1 AS conf_drift_significant,
           round(dist.kl, 6) AS kl_divergence,
           CAST(dist.n_new AS BIGINT) AS n_new_types,
           CAST(dist.n_inc AS BIGINT) AS n_increased_types,
           CAST(dist.n_dec AS BIGINT) AS n_decreased_types,
           round(vocab.rate, 6) AS new_token_rate
    FROM conf, dist, vocab
"""


# ===========================================================================
# Dedup / text-stats queries over documents
# ===========================================================================


def q_dedup_exact(spark, sf_dir):
    from anno_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "documents")).select(
        "fingerprint", "n_docs", "first_doc"
    )


def _dd_sigs(spark, sf_dir):
    from anno_spark.operators.dedup import doc_signatures_with_id
    from anno_spark.plans.materialize import materialize

    return materialize(
        doc_signatures_with_id(_t(spark, sf_dir, "documents")), sf_dir, "dd_sigs"
    )


def q_dedup_minhash(spark, sf_dir):
    from anno_spark.operators.dedup import minhash_near_duplicates

    return minhash_near_duplicates(
        _t(spark, sf_dir, "documents"), threshold=0.8, sigs=_dd_sigs(spark, sf_dir)
    )


def q_dedup_simhash(spark, sf_dir):
    from anno_spark.operators.dedup import simhash_near_duplicates, simhash_table
    from anno_spark.plans.materialize import materialize

    sh = materialize(
        simhash_table(_t(spark, sf_dir, "documents")), sf_dir, "dd_simhash"
    )
    return simhash_near_duplicates(
        _t(spark, sf_dir, "documents"), max_hamming=3, sh=sh
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    from anno_spark.operators.dedup import ngram_jaccard_pairs, shingle_table
    from anno_spark.plans.materialize import materialize

    docs = _t(spark, sf_dir, "documents")
    shingles = materialize(shingle_table(docs), sf_dir, "dd_shingles")
    return ngram_jaccard_pairs(
        docs, threshold=0.5, sigs=_dd_sigs(spark, sf_dir), shingles=shingles
    )


def _pages_meta(spark, sf_dir):
    from anno_spark.plans.materialize import materialize

    return materialize(
        _pages(spark, sf_dir).select("url", "warc_ts", "lang"), sf_dir, "pages_meta"
    )


def q_web_url_parts(spark, sf_dir):
    from anno_spark.operators.urlstats import url_parts

    return url_parts(_pages_meta(spark, sf_dir))


def q_web_domains(spark, sf_dir):
    from anno_spark.operators.urlstats import domain_profile

    return domain_profile(_pages_meta(spark, sf_dir))


def q_web_profile(spark, sf_dir):
    """url_parts + domain_profile folded into ONE tagged-union row
    (surface-cap fold, r04 — frees a slot for box_coref).  Heterogeneous
    columns stay typed; each arm NULL-pads the other's columns, so no
    cast-format drift can hide a value mismatch."""
    urls = q_web_url_parts(spark, sf_dir).select(
        F.lit("url").alias("family"),
        "url", "host", "domain", "tld",
        F.col("path_depth").cast("long").alias("path_depth"),
        F.lit(None).cast("long").alias("n_pages"),
        F.lit(None).cast("long").alias("n_hosts"),
        F.lit(None).cast("double").alias("avg_path_depth"),
        F.lit(None).cast("long").alias("n_langs"),
        F.lit(None).cast("timestamp").alias("first_crawl"),
        F.lit(None).cast("timestamp").alias("last_crawl"),
    )
    domains = q_web_domains(spark, sf_dir).select(
        F.lit("domain").alias("family"),
        F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("string").alias("host"),
        "domain",
        F.lit(None).cast("string").alias("tld"),
        F.lit(None).cast("long").alias("path_depth"),
        F.col("n_pages").cast("long"),
        F.col("n_hosts").cast("long"),
        "avg_path_depth",
        F.col("n_langs").cast("long"),
        "first_crawl", "last_crawl",
    )
    return urls.unionByName(domains)


def q_box_coref(spark, sf_dir):
    """Box-embedding coreference pairs over the embeddings table
    (backends/box_embeddings.rs:33-257 semantics): dim-3 boxes of
    half-width 0.08 around each vector, grid-blocked candidate join,
    exact JVM-side conditional-probability scoring, threshold 0.5.
    The oracle re-derives every score from the raw parquet with an
    explicit all-pairs join — fully independent of the Spark blocking."""
    from anno_spark.operators.boxes import box_coref_pairs, boxes_from_vectors

    emb = _t(spark, sf_dir, "embeddings")
    boxed = boxes_from_vectors(emb, vec_col="embedding", radius=0.08, dims=3) \
        .select(F.col("vec_id").alias("box_id"), "box_min", "box_max")
    pairs = box_coref_pairs(boxed, threshold=0.5, cell_size=0.5)
    return pairs.select(
        "id_a", "id_b",
        F.round("box_score", 6).alias("box_score"),
        F.round("p_a_b", 6).alias("p_a_b"),
        F.round("p_b_a", 6).alias("p_b_a"),
    )


_BOX_COREF_ORACLE = """
    WITH b AS MATERIALIZED (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) - 0.08 AS n1,
             CAST(embedding[2] AS DOUBLE) - 0.08 AS n2,
             CAST(embedding[3] AS DOUBLE) - 0.08 AS n3,
             CAST(embedding[1] AS DOUBLE) + 0.08 AS x1,
             CAST(embedding[2] AS DOUBLE) + 0.08 AS x2,
             CAST(embedding[3] AS DOUBLE) + 0.08 AS x3
      FROM embeddings),
    p AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             greatest(least(a.x1, c.x1) - greatest(a.n1, c.n1), 0)
             * greatest(least(a.x2, c.x2) - greatest(a.n2, c.n2), 0)
             * greatest(least(a.x3, c.x3) - greatest(a.n3, c.n3), 0) AS iv,
             (a.x1 - a.n1) * (a.x2 - a.n2) * (a.x3 - a.n3) AS va,
             (c.x1 - c.n1) * (c.x2 - c.n2) * (c.x3 - c.n3) AS vb
      FROM b a JOIN b c ON a.vec_id < c.vec_id),
    s AS (
      SELECT id_a, id_b,
             CASE WHEN vb = 0 THEN 0 ELSE iv / vb END AS p_ab,
             CASE WHEN va = 0 THEN 0 ELSE iv / va END AS p_ba
      FROM p)
    SELECT id_a, id_b,
           round((p_ab + p_ba) / 2, 6) AS box_score,
           round(p_ab, 6) AS p_a_b,
           round(p_ba, 6) AS p_b_a
    FROM s
    WHERE (p_ab + p_ba) / 2 >= 0.5
"""


def q_dedup_embedding(spark, sf_dir):
    from anno_spark.operators.dedup import doc_vectors, embedding_near_duplicates
    from anno_spark.plans.materialize import materialize

    dv = materialize(doc_vectors(_t(spark, sf_dir, "documents")), sf_dir, "dd_docvecs")
    return embedding_near_duplicates(
        dv,
        min_cosine=0.8,
        max_hamming=16,
        bh=dv.select(F.col("doc_id").alias("vec_id"), "bhash"),
    )


CURATION_MIN_QUALITY = 0.67
CURATION_LANGS = ("en", "de", "fr", "es")


def q_dedup_bcubed(spark, sf_dir):
    """E3 driver-visible over REAL clusterings: B³ of the MinHash
    near-dup clustering (pred; singletons keep their own doc_id)
    against the exact-duplicate fingerprint clustering (gold). The
    oracle re-derives BOTH clusterings from scratch (recursive-CTE
    MinHash chain + fingerprint window) and the B³ sums in SQL."""
    from pyspark.sql import Window

    from anno_spark.eval.cluster_eval import b_cubed_df
    from anno_spark.operators.dedup import minhash_near_duplicates
    from anno_spark.operators.textstats import normalized_fingerprint

    docs = _t(spark, sf_dir, "documents")
    clusters = minhash_near_duplicates(
        docs, threshold=0.8, sigs=_dd_sigs(spark, sf_dir)
    )
    pred = docs.select("doc_id").join(clusters, "doc_id", "left").select(
        F.col("doc_id").alias("mention_id"),
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    gold = docs.select(
        F.col("doc_id").alias("mention_id"),
        F.min("doc_id")
        .over(Window.partitionBy(normalized_fingerprint(F.col("text"))))
        .alias("cluster_id"),
    )
    return b_cubed_df(pred, gold)


def q_corpus_curation(spark, sf_dir):
    from anno_spark.operators.curation import curate_corpus

    return curate_corpus(
        _t(spark, sf_dir, "documents"),
        min_quality=CURATION_MIN_QUALITY,
        langs=CURATION_LANGS,
        sigs=_dd_sigs(spark, sf_dir),
    )


def q_doc_stats(spark, sf_dir):
    from anno_spark.operators.textstats import doc_stats

    return doc_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars", "n_tokens", "n_lines", "alpha_ratio", "digit_ratio", "fingerprint"
    )


def q_lang_profile(spark, sf_dir):
    from anno_spark.operators.textstats import token_count

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", F.length("text").alias("nc"), token_count(F.col("text")).alias("nt"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nc").alias("total_chars"),
            F.round(F.avg("nt"), 6).alias("avg_tokens"),
        )
    )


def q_doc_profile(spark, sf_dir):
    """doc_stats + quality_score + doc_fingerprints folded into ONE wide
    per-document row (surface-cap fold, VERDICT r03 next #1): a 3-way
    join on doc_id; duplicate columns (n_tokens/alpha_ratio recomputed
    identically by quality_score, fingerprint by doc_fingerprints) are
    projected once. Every distinct value of all three sub-queries still
    reaches the driver hash."""
    from anno_spark.operators.textstats import (
        doc_fingerprints,
        doc_stats,
        quality_score,
    )

    docs = _t(spark, sf_dir, "documents")
    s = doc_stats(docs).select(
        "doc_id", "n_chars", "n_tokens", "n_lines",
        "alpha_ratio", "digit_ratio", "fingerprint",
    )
    q = quality_score(docs).select(
        "doc_id", "mean_token_len", "stopword_signal", "quality_score"
    )
    f = doc_fingerprints(docs).select(
        "doc_id", "ws_tokens", "bpe_tokens", "rolling_hash"
    )
    return s.join(q, "doc_id").join(f, "doc_id")


def q_lang_detect(spark, sf_dir):
    from anno_spark.operators.textstats import detect_languages

    return detect_languages(_t(spark, sf_dir, "documents"))


def q_lang_analysis(spark, sf_dir):
    """lang_profile + lang_detect folded into ONE tagged-union row
    (surface-cap fold, r04 late — frees the slot box_conflicts uses);
    typed NULL padding like web_profile."""
    profile = q_lang_profile(spark, sf_dir).select(
        F.lit("profile").alias("family"),
        "lang",
        F.lit(None).cast("bigint").alias("doc_id"),
        F.lit(None).cast("string").alias("detected_lang"),
        F.col("n_docs").cast("long"),
        F.col("total_chars").cast("long"),
        "avg_tokens",
    )
    detect = q_lang_detect(spark, sf_dir).select(
        F.lit("detect").alias("family"),
        F.lit(None).cast("string").alias("lang"),
        F.col("doc_id").cast("long"),
        "detected_lang",
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("total_chars"),
        F.lit(None).cast("double").alias("avg_tokens"),
    )
    return profile.unionByName(detect)


def q_box_conflicts(spark, sf_dir):
    """Uncertainty-aware conflict detection (box_embeddings.rs:463-487)
    over synthesized claims: each embedding row becomes a dim-2 claim box
    about subject ``vec_id % 40`` with trust ``(vec_id % 100) / 100``.
    The oracle re-derives the conflict predicate and severity per pair
    with an explicit subject self-join on the raw parquet."""
    from anno_spark.operators.boxes import box_conflicts, boxes_from_vectors

    emb = _t(spark, sf_dir, "embeddings")
    claims = boxes_from_vectors(emb, vec_col="embedding", radius=0.1,
                                dims=2).select(
        (F.col("vec_id") % 40).cast("long").alias("subject_id"),
        F.col("vec_id").alias("claim_id"),
        "box_min", "box_max",
        ((F.col("vec_id") % 100) / F.lit(100.0)).alias("source_trust"),
    )
    out = box_conflicts(claims, key_col="subject_id")
    return out.select(
        F.col("subject").alias("subject_id"), "claim_a", "claim_b",
        F.round("claim_a_trust", 6).alias("claim_a_trust"),
        F.round("claim_b_trust", 6).alias("claim_b_trust"),
        F.round("severity", 6).alias("severity"),
    )


_BOX_CONFLICTS_ORACLE = """
    WITH b AS MATERIALIZED (
      SELECT vec_id % 40 AS subject_id, vec_id AS claim_id,
             (vec_id % 100) / 100.0 AS source_trust,
             CAST(embedding[1] AS DOUBLE) - 0.1 AS n1,
             CAST(embedding[2] AS DOUBLE) - 0.1 AS n2,
             CAST(embedding[1] AS DOUBLE) + 0.1 AS x1,
             CAST(embedding[2] AS DOUBLE) + 0.1 AS x2
      FROM embeddings),
    p AS (
      SELECT a.subject_id, a.claim_id AS claim_a, c.claim_id AS claim_b,
             a.source_trust AS trust_a, c.source_trust AS trust_b,
             greatest(least(a.x1, c.x1) - greatest(a.n1, c.n1), 0)
             * greatest(least(a.x2, c.x2) - greatest(a.n2, c.n2), 0) AS iv,
             (a.x1 - a.n1) * (a.x2 - a.n2) AS va,
             (c.x1 - c.n1) * (c.x2 - c.n2) AS vb
      FROM b a JOIN b c ON a.subject_id = c.subject_id
                       AND a.claim_id < c.claim_id),
    s AS (
      SELECT *, 1.0 / (1.0 + va) AS conf_a, 1.0 / (1.0 + vb) AS conf_b,
             least(va, vb) AS min_vol
      FROM p)
    SELECT subject_id, claim_a, claim_b,
           round(trust_a, 6) AS claim_a_trust,
           round(trust_b, 6) AS claim_b_trust,
           round((1.0 - iv / greatest(min_vol, 1e-6))
                 * (conf_a + conf_b) / 2.0, 6) AS severity
    FROM s
    WHERE iv < min_vol * 0.1 AND conf_a > 0.8 AND conf_b > 0.8
"""


# ===========================================================================
# Similarity search over embeddings
# ===========================================================================


def q_ann_cosine_topk(spark, sf_dir):
    from anno_spark.operators.simsearch import cosine_topk

    return cosine_topk(_t(spark, sf_dir, "embeddings"), k=5)


def q_ann_ivf_topk(spark, sf_dir):
    from anno_spark.operators.simsearch import ivf_topk

    return ivf_topk(_t(spark, sf_dir, "embeddings"), k=5)


def q_ann_hamming_pairs(spark, sf_dir):
    from anno_spark.operators.simsearch import binary_hash_pairs, binary_hash_table
    from anno_spark.plans.materialize import materialize

    emb = _t(spark, sf_dir, "embeddings")
    bh = materialize(binary_hash_table(emb), sf_dir, "ann_bhash")
    return binary_hash_pairs(emb, max_hamming=24, bh=bh)


ANN_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
s AS (SELECT query_id, vec_id AS neighbor_id,
        list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS csim
      FROM q, e WHERE vec_id <> query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, neighbor_id ASC) AS rank FROM s)
SELECT query_id, neighbor_id, rank, round(csim, 4) AS sim FROM r WHERE rank <= 5
"""


# ===========================================================================
# Multimodal (real PNG/WAV containers; header-parsing decode)
# ===========================================================================


def q_media_profile(spark, sf_dir):
    from anno_spark.operators.multimodal import extract_features, media_profile, synthesize_media
    from anno_spark.plans.materialize import materialize

    feats = materialize(
        extract_features(synthesize_media(spark, 300)), sf_dir, "media_features"
    )
    return media_profile(feats)


# ===========================================================================
# Relational layer (SURVEY §2.10 checklist over the TPC-H-ish tables)
# ===========================================================================


def q_rel_agg_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(20,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_rel_join_topcustomers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(20,2)")).cast("double").alias("total_spent"))
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(10)
    )


def q_rel_broadcast_region_sales(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    dims = F.broadcast(
        n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
            "n_nationkey", F.col("r_name").alias("region_name")
        )
    )
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(dims, c["c_nationkey"] == dims["n_nationkey"])
        .groupBy("region_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(20,2)")).cast("double").alias("revenue"),
        )
    )


def q_rel_window_latest_order(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    latest = o.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return latest.groupBy("o_orderpriority").agg(F.count("*").alias("n_customers"))


def q_rel_anti_join(spark, sf_dir):
    """Customers with no order since 1999. The generated testdata gives
    every customer at least one order overall, so the unfiltered
    anti-join was a vacuous 0-row green (VERDICT r03 wrong #1); the
    date-filtered right side guarantees misses at every SF (6 at
    sf0.001, 29 at sf0.01, 305 at sf0.1) while still exercising the
    NULL-safe NOT-EXISTS ≡ left_anti semantics from the r01 fix."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def q_rel_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct()


def q_rel_asof_join(spark, sf_dir):
    """Custom temporal operator (Spark has no built-in as-of join):
    each purchase matched to the user's most recent view at-or-before
    it. Oracle: DuckDB's native ASOF JOIN — independent derivation."""
    from anno_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    out = asof_join(
        e.where("event_type = 'purchase'"),
        e.where("event_type = 'view'"),
    )
    # sentinel-coalesce the unmatched side: nullable numeric columns
    # round-trip as NaN through pandas on the DuckDB side and hash apart
    return out.select(
        "event_id", "user_id", "ts",
        F.coalesce("r_event_id", F.lit(-1)).alias("view_event_id"),
        F.coalesce("r_ts", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")).alias("view_ts"),
        F.coalesce("r_value", F.lit(-1.0)).alias("view_value"),
    )


def q_rel_range_join(spark, sf_dir):
    """Range join: error events within 10 minutes of a purchase by the
    same user (equi-join on user + band predicate; no cross join)."""
    from anno_spark.operators.temporal import range_join

    e = _t(spark, sf_dir, "events")
    out = range_join(
        e.where("event_type = 'purchase'"),
        e.where("event_type = 'error'"),
        tolerance_seconds=600,
    )
    return out.select(
        "event_id", "user_id",
        F.col("r_event_id").alias("error_event_id"),
        F.round(
            (F.unix_micros(F.col("ts").cast("timestamp"))
             - F.unix_micros(F.col("r_ts").cast("timestamp"))) / 1_000_000.0,
            3,
        ).alias("delta_s"),
    )


def q_events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").start.alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(20,2)")).cast("double"), 2).alias("total_value"),
        )
    )


# ===========================================================================
# registry
# ===========================================================================


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = {
        # KG pipeline (UDF layer pinned by pytest parity; relational layer
        # oracle-checked against materialized intermediates)
        "kg_mentions": q_kg_mentions,
        "ner_label_filter": q_ner_label_filter,
        "kg_triples": q_kg_triples,
        "kg_tracks": q_kg_tracks,
        "kg_events": q_kg_events,
        "kg_identities": q_kg_identities,
        "kg_nodes": q_kg_nodes,
        "kg_top_clusters": q_kg_top_clusters,
        "kg_edges": q_kg_edges,
        "kg_extraction_metrics": q_kg_extraction_metrics,
        "kg_cooccurrence": q_kg_cooccurrence,
        "kg_communities": q_kg_communities,
        # l2 + lpa folded into one row (surface-cap fold, r03 next #1)
        "kg_communities_alt": q_kg_communities_alt,
        "kg_entity_links": q_kg_entity_links,
        # NER pattern extraction — all 8 probe families in one row
        "ner_patterns": q_ner_patterns,
        # full-stack extraction probes: heuristic-NER gazetteer path,
        # trigger-pattern relations, coref track formation — oracles are
        # pure positional SQL over the planted templates (VERDICT r02 #1)
        "ner_gazetteer_orgs": q_ner_gazetteer_orgs,
        "kg_probe_triples": q_kg_probe_triples,
        "kg_probe_tracks": q_kg_probe_tracks,
        "kg_probe_events": q_kg_probe_events,
        "kg_probe_page_stats": q_kg_probe_page_stats,
        "kg_probe_ner_eval": q_kg_probe_ner_eval,
        "kg_probe_rel_eval": q_kg_probe_rel_eval,
        "kg_probe_calibration": q_kg_probe_calibration,
        "kg_probe_drift": q_kg_probe_drift,
        "kg_export_cypher": q_kg_export_cypher,
        # dedup / text analysis
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_embedding": q_dedup_embedding,
        "dedup_bcubed": q_dedup_bcubed,
        "corpus_curation": q_corpus_curation,
        # doc_stats + quality + fingerprints folded into one wide row
        "doc_profile": q_doc_profile,
        # url_parts + domain_profile folded into one tagged-union row
        # (surface-cap fold, r04 — frees the slot box_coref uses)
        "web_profile": q_web_profile,
        # box-embedding coreference scoring (backends/box_embeddings.rs)
        "box_coref": q_box_coref,
        # lang_profile + lang_detect folded into one tagged-union row
        # (surface-cap fold, r04 late — frees the slot box_conflicts uses)
        "lang_analysis": q_lang_analysis,
        # uncertainty-aware box conflict detection (UKGE semantics)
        "box_conflicts": q_box_conflicts,
        # similarity search
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_hamming_pairs": q_ann_hamming_pairs,
        # multimodal
        "media_profile": q_media_profile,
        # relational layer (SURVEY §2.10)
        "rel_agg_lineitem": q_rel_agg_lineitem,
        "rel_join_topcustomers": q_rel_join_topcustomers,
        "rel_broadcast_region_sales": q_rel_broadcast_region_sales,
        "rel_window_latest_order": q_rel_window_latest_order,
        "rel_anti_join": q_rel_anti_join,
        "rel_distinct": q_rel_distinct,
        "rel_asof_join": q_rel_asof_join,
        "rel_range_join": q_rel_range_join,
        "events_hourly": q_events_hourly,
    }
    return q


def oracle_sql() -> dict[str, str]:
    from anno_spark.operators.textstats import _STOPWORDS
    from anno_spark.plans import oracles as O

    sf = SF001  # the driver runs correctness at sf0.01
    return {
        # KG pipeline
        "kg_mentions": O.kg_mentions(sf),
        "ner_label_filter": O.ner_label_filter(sf, ENTITY_LABEL_FILTER),
        "kg_triples": O.kg_triples(sf),
        "kg_tracks": O.kg_tracks(sf),
        "kg_events": O.kg_events(sf),
        "kg_identities": O.kg_identities(sf),
        "kg_nodes": O.kg_nodes(sf),
        "kg_top_clusters": O.kg_top_clusters(
            sf, TOP_CLUSTER_MIN_MENTIONS, TOP_CLUSTER_LIMIT
        ),
        "kg_edges": O.kg_edges(sf),
        "kg_extraction_metrics": O.kg_extraction_metrics(sf),
        "kg_cooccurrence": O.kg_cooccurrence(sf, 100),
        "kg_entity_links": O.kg_entity_links(sf),
        # the iterative modularity loop, unrolled into 15 rounds of
        # generated SQL CTEs (each round = one gain agg + window argmax
        # + direction gate) — closes the r02 `err: no_oracle` row
        "kg_communities": O.kg_communities(sf, 1.0, 15),
        # l2 + lpa folded: both unrolled-SQL transcriptions union'd
        # under a method tag (LPA's label as level_0, level_1 = '')
        "kg_communities_alt": f"""
            WITH l2 AS MATERIALIZED ({O.kg_communities_l2(sf, 1.0, 2, 15)}),
                 lpa AS MATERIALIZED ({O.kg_communities_lpa(sf, 10)})
            SELECT 'l2' AS method, node_id, level_0, level_1 FROM l2
            UNION ALL
            SELECT 'lpa' AS method, node_id, community_id AS level_0,
                   '' AS level_1 FROM lpa
        """,
        # NER patterns: all 8 probe families, tagged union
        "ner_patterns": _ner_patterns_oracle(),
        "ner_gazetteer_orgs": _GAZ_ORACLE,
        "kg_probe_triples": _REL_PROBE_ORACLE,
        "kg_probe_tracks": _TRACK_PROBE_ORACLE,
        "kg_probe_events": _EVENT_PROBE_ORACLE,
        "kg_probe_page_stats": _PAGE_STATS_PROBE_ORACLE,
        "kg_probe_ner_eval": _NER_EVAL_PROBE_ORACLE,
        "kg_probe_rel_eval": _REL_EVAL_PROBE_ORACLE,
        "kg_probe_calibration": _CALIB_PROBE_ORACLE,
        "kg_probe_drift": _DRIFT_PROBE_ORACLE,
        "kg_export_cypher": O.kg_export_cypher(sf),
        # dedup
        "dedup_exact": f"""
            SELECT md5(lower(regexp_replace(trim(text), '{O.WS}', ' ', 'g'))) AS fingerprint,
                   count(*) AS n_docs, min(doc_id) AS first_doc
            FROM documents GROUP BY 1
        """,
        "dedup_minhash": O.dedup_minhash(sf, 0.8),
        "dedup_simhash": O.dedup_simhash(sf, 3),
        "dedup_ngram_jaccard": O.dedup_ngram_jaccard(sf, 0.5),
        "dedup_embedding": O.dedup_embedding(sf, 0.8, 16),
        "dedup_bcubed": O.dedup_bcubed(sf, 0.8),
        "corpus_curation": O.corpus_curation(
            sf, _STOPWORDS, CURATION_MIN_QUALITY, CURATION_LANGS, 0.8
        ),
        # text stats — doc_stats + quality + fingerprints folded into
        # one wide per-document row (3-way join on doc_id)
        "doc_profile": f"""
            WITH s AS MATERIALIZED (
              SELECT doc_id,
                   length(text) AS n_chars,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE length(list_filter(regexp_split_to_array(trim(text), '{O.WS}'), x -> x <> '')) END AS n_tokens,
                   length(string_split(text, chr(10))) AS n_lines,
                   round(CASE WHEN length(text) = 0 THEN 0.0
                        ELSE (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))) * 1.0 / length(text) END, 6) AS alpha_ratio,
                   round(CASE WHEN length(text) = 0 THEN 0.0
                        ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text) END, 6) AS digit_ratio,
                   md5(lower(regexp_replace(trim(text), '{O.WS}', ' ', 'g'))) AS fingerprint
              FROM documents),
            q AS MATERIALIZED (
              SELECT doc_id, mean_token_len, stopword_signal, quality_score
              FROM ({O.doc_quality(_STOPWORDS)})),
            f AS MATERIALIZED (
              SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE length(list_filter(regexp_split_to_array(trim(text), '{O.WS}'), x -> x <> '')) END AS ws_tokens,
                   length(regexp_extract_all(text, '{O.BPE_RE}')) AS bpe_tokens,
                   CASE WHEN length(substr(text, 1, {O.ROLL_MAX})) = 0 THEN 0
                        ELSE list_reduce(
                            list_transform(range(1, length(substr(text, 1, {O.ROLL_MAX})) + 1),
                                           i -> CAST(unicode(substr(text, 1, {O.ROLL_MAX})[i]) AS BIGINT)),
                            (acc, c) -> (acc * {O.ROLL_B} + c) % {O.ROLL_P}) END AS rolling_hash
              FROM documents)
            SELECT s.doc_id, s.n_chars, s.n_tokens, s.n_lines,
                   s.alpha_ratio, s.digit_ratio, s.fingerprint,
                   q.mean_token_len, q.stopword_signal, q.quality_score,
                   f.ws_tokens, f.bpe_tokens, f.rolling_hash
            FROM s JOIN q USING (doc_id) JOIN f USING (doc_id)
        """,
        "lang_analysis": f"""
            WITH t AS MATERIALIZED (
              SELECT lang, length(text) AS nc,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE length(list_filter(regexp_split_to_array(trim(text), '{O.WS}'), x -> x <> '')) END AS nt
              FROM documents)
            SELECT 'profile' AS family, lang,
                   CAST(NULL AS BIGINT) AS doc_id,
                   CAST(NULL AS VARCHAR) AS detected_lang,
                   count(*) AS n_docs,
                   CAST(sum(nc) AS BIGINT) AS total_chars,
                   round(avg(nt), 6) AS avg_tokens
            FROM t GROUP BY lang
            UNION ALL
            SELECT 'detect' AS family, CAST(NULL AS VARCHAR) AS lang,
                   doc_id, detected_lang,
                   CAST(NULL AS BIGINT) AS n_docs,
                   CAST(NULL AS BIGINT) AS total_chars,
                   CAST(NULL AS DOUBLE) AS avg_tokens
            FROM ({O.lang_detect()})
        """,
        "web_profile": O.web_profile(sf),
        "box_coref": _BOX_COREF_ORACLE,
        "box_conflicts": _BOX_CONFLICTS_ORACLE,
        # similarity search
        "ann_cosine_topk": ANN_ORACLE,
        "ann_ivf_topk": O.ann_ivf_topk(SF001),
        "ann_hamming_pairs": O.ann_hamming_pairs(sf, 24),
        # multimodal
        "media_profile": O.media_profile(sf),
        # relational layer
        "rel_agg_lineitem": """
            SELECT l_returnflag, l_linestatus,
                   cast(sum(cast(l_quantity AS decimal(20,2))) AS double) AS sum_qty,
                   cast(sum(cast(l_extendedprice AS decimal(20,2))) AS double) AS sum_base_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= date '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "rel_join_topcustomers": """
            SELECT c_custkey, c_name,
                   cast(sum(cast(o_totalprice AS decimal(20,2))) AS double) AS total_spent
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY total_spent DESC, c_custkey ASC LIMIT 10
        """,
        "rel_broadcast_region_sales": """
            SELECT r_name AS region_name, count(*) AS n_orders,
                   cast(sum(cast(o_totalprice AS decimal(20,2))) AS double) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "rel_window_latest_order": """
            WITH latest AS (
              SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders)
            SELECT o_orderpriority, count(*) AS n_customers FROM latest WHERE rn = 1
            GROUP BY o_orderpriority
        """,
        # NOT EXISTS, not NOT IN: left_anti is NULL-safe, NOT IN is not
        # (ADVICE r01). Right side date-filtered so the result is
        # non-empty at every SF (VERDICT r03 wrong #1: vacuous 0=0 green).
        "rel_anti_join": """
            SELECT c_custkey, c_mktsegment FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        """,
        "rel_distinct": "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
        # DuckDB's native ASOF JOIN independently re-derives the
        # union-tag + window implementation. The right side is deduped to
        # one row per (user_id, ts) — arg_max by event_id — because the
        # Spark operator deterministically resolves equal right
        # timestamps to the greatest tie column while DuckDB's pick among
        # duplicate (key, ts) rows is unspecified (ADVICE r02).
        "rel_asof_join": """
            SELECT p.event_id, p.user_id, p.ts,
                   coalesce(v.event_id, -1) AS view_event_id,
                   coalesce(v.ts, TIMESTAMP '1970-01-01 00:00:00') AS view_ts,
                   coalesce(v.value, -1.0) AS view_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (
                SELECT user_id, ts,
                       max(event_id) AS event_id,
                       arg_max(value, event_id) AS value
                FROM events WHERE event_type = 'view'
                GROUP BY user_id, ts) v
              ON p.user_id = v.user_id AND p.ts >= v.ts
        """,
        "rel_range_join": """
            SELECT p.event_id, p.user_id, x.event_id AS error_event_id,
                   round(epoch(p.ts) - epoch(x.ts), 3) AS delta_s
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            JOIN (SELECT * FROM events WHERE event_type = 'error') x
              ON p.user_id = x.user_id
             AND abs(epoch(p.ts) - epoch(x.ts)) <= 600
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   count(*) AS n_events,
                   round(cast(sum(cast(value AS decimal(20,2))) AS double), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
    }
