"""DuckDB oracle SQL builders for the driver correctness harness.

Each function returns an ANSI-ish SQL string DuckDB can run against the
driver's pre-registered table views plus the parquet intermediates the
corresponding Spark query materialized (see plans/materialize.py for the
scheme). The oracles RE-DERIVE the Spark results with independent SQL:

* connected components  → recursive CTE (min-reachable-label)
* canonical identities  → window ranking + group aggregation
* graph edges           → both-endpoint joins + aggregation
* co-occurrence         → url-equi self-join with a range predicate
* LSH/simhash blocking  → band self-joins derived from raw signatures
* TF-IDF linking        → gram explode + idf + cosine join, in SQL
* IVF ANN               → centroid literals recomputed Spark-free

so a bug in the distributed join/agg/CC/ranking logic shows up as a
driver hash mismatch even though extraction itself is UDF-based (that
layer is pinned by the pytest parity suite against the pure-Python
reference port).

All sums are cast to BIGINT (DuckDB sums integers into HUGEINT, which
the driver canonicalizer renders as a float — the r01 lang_profile
lesson). Whitespace regexes use the explicit ASCII class shared with the
Spark side (ADVICE r01: Java (?U)\\s ≠ RE2 \\s on Unicode whitespace).
"""

from __future__ import annotations

import os

from .materialize import oracle_dir

WS = "[ \\t\\n\\r\\f\\v]+"  # must mirror anno_spark.operators.textstats.WS_CLASS

# INDEPENDENT literal transcriptions of the Spark-side constants
# (VERDICT r02 wrong #2: a shared constant lets one transcription bug
# pass both engines). tests/test_probe_oracles.py asserts each equals
# its operators/textstats counterpart, so drift fails loudly instead of
# silently passing both sides.
BPE_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f\x0B]+"
ROLL_B = 31
ROLL_P = 1_000_000_007
ROLL_MAX = 4096

# Language-ID diacritic classes: alphabetic members of the
# core/textops frozensets, codepoint-sorted (drift-tested likewise).
LANG_DE_CHARS = "ÄÖÜßäöü"
LANG_FR_CHARS = "àâçèéêëîïôùû"
LANG_ES_CHARS = "áíñóú"


def _pq(sf_dir: str, name: str) -> str:
    return f"read_parquet('{os.path.join(oracle_dir(sf_dir), name + '.parquet')}/*.parquet')"


def _kb_values() -> str:
    from anno_spark.core.document import KNOWN_KB_ENTITIES

    rows = ", ".join(
        "('{}', '{}', '{}')".format(
            name.replace("'", "''"), qid, desc.replace("'", "''")
        )
        for name, (qid, desc) in sorted(KNOWN_KB_ENTITIES.items())
    )
    return f"(VALUES {rows}) kb(canonical_lower, kb_id, kb_description)"


# --------------------------------------------------------------------------
# KG pipeline oracles


def kg_mentions(sf_dir: str) -> str:
    return f"""
        SELECT url, u.mention_idx AS mention_idx, u.text AS text,
               u.entity_type AS entity_type, u.start AS start, u."end" AS "end",
               u.confidence AS confidence, u.pattern AS pattern,
               u.source AS source, u.negated AS negated, u.quantifier AS quantifier
        FROM (SELECT url, unnest(mentions) AS u FROM {_pq(sf_dir, 'kg_extracted')})
    """


def ner_label_filter(sf_dir: str, labels) -> str:
    lab = ", ".join(f"'{x}'" for x in labels)
    return f"""
        SELECT * FROM ({kg_mentions(sf_dir)}) WHERE entity_type IN ({lab})
    """


def kg_triples(sf_dir: str) -> str:
    return f"""
        SELECT url, t.subj_text AS subj_text, t.subj_type AS subj_type,
               t.subj_start AS subj_start, t.subj_end AS subj_end,
               t.pred AS pred, t.obj_text AS obj_text, t.obj_type AS obj_type,
               t.obj_start AS obj_start, t.obj_end AS obj_end,
               t.trigger_start AS trigger_start, t.trigger_end AS trigger_end,
               t.confidence AS confidence
        FROM (SELECT url, unnest(triples) AS t FROM {_pq(sf_dir, 'kg_extracted')})
    """


def kg_tracks(sf_dir: str) -> str:
    return f"""
        SELECT url, t.track_id AS track_id,
               t.canonical_surface AS canonical_surface,
               t.entity_type AS entity_type,
               array_to_string(t.signal_ids, ',') AS signal_ids_csv,
               CAST(length(t.signal_ids) AS INTEGER) AS n_signals
        FROM (SELECT url, unnest(tracks) AS t FROM {_pq(sf_dir, 'kg_extracted')})
    """


def kg_events(sf_dir: str) -> str:
    return f"""
        SELECT url, e."trigger" AS "trigger", e.trigger_start AS trigger_start,
               e.trigger_end AS trigger_end, e.event_type AS event_type,
               e.polarity AS polarity, e.tense AS tense,
               e.confidence AS confidence, e.agent AS agent, e.patient AS patient
        FROM (SELECT url, unnest(events) AS e FROM {_pq(sf_dir, 'kg_extracted')})
    """


def _cc_ctes(sf_dir: str) -> str:
    """Shared recursive-CTE connected components over the materialized
    surface-key graph: comps(key_id, component_id = min reachable key)."""
    return f"""
        keys AS (SELECT * FROM {_pq(sf_dir, 'kg_keys')}),
        alias_edges AS (SELECT key_a, key_b FROM {_pq(sf_dir, 'kg_cdcr_edges')}),
        sym AS (SELECT key_a AS src, key_b AS dst FROM alias_edges
                UNION SELECT key_b, key_a FROM alias_edges),
        reach(key_id, comp) AS (
            SELECT key_id, key_id FROM keys
            UNION
            SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.key_id
        ),
        comps AS (SELECT key_id, min(comp) AS component_id FROM reach GROUP BY key_id)
    """


_IDENT_AGG = """
        keyed AS (SELECT k.*, c.component_id FROM keys k JOIN comps c USING (key_id)),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY component_id
                ORDER BY n_mentions DESC, surface DESC, entity_type DESC
            ) AS rn FROM keyed),
        agg AS (
            SELECT component_id AS identity_id,
                   max(CASE WHEN rn = 1 THEN surface END) AS canonical_name,
                   max(CASE WHEN rn = 1 THEN entity_type END) AS entity_type,
                   CAST(sum(n_mentions) AS BIGINT) AS n_mentions,
                   CAST(sum(n_docs) AS BIGINT) AS n_docs,
                   count(*) AS n_surfaces,
                   array_to_string(list_sort(list(DISTINCT surface)), '|') AS aliases,
                   min(first_seen) AS first_seen
            FROM ranked GROUP BY component_id),
        idents AS (
            SELECT a.*, kb.kb_id, kb.kb_description
            FROM agg a LEFT JOIN {kb} ON lower(a.canonical_name) = kb.canonical_lower)
"""


def kg_identities(sf_dir: str) -> str:
    return f"""
        WITH RECURSIVE
        {_cc_ctes(sf_dir)},
        {_IDENT_AGG.format(kb=_kb_values())}
        SELECT identity_id, canonical_name, entity_type, n_mentions, n_docs,
               n_surfaces, aliases, kb_id, kb_description, first_seen
        FROM idents
    """


_NODE_ID = """
        CASE WHEN kb_id IS NOT NULL THEN kb_id
             ELSE 'coref_' || CAST(identity_id AS VARCHAR) END
"""


def kg_nodes(sf_dir: str) -> str:
    return f"""
        WITH RECURSIVE
        {_cc_ctes(sf_dir)},
        {_IDENT_AGG.format(kb=_kb_values())}
        SELECT {_NODE_ID} AS node_id, identity_id, canonical_name AS name,
               entity_type AS node_type, n_mentions, n_docs, n_surfaces,
               aliases, kb_id, first_seen, first_seen AS valid_from,
               NULL::TIMESTAMP AS valid_until
        FROM idents
    """


def kg_top_clusters(sf_dir: str, min_mentions: int, limit: int) -> str:
    return f"""
        WITH RECURSIVE
        {_cc_ctes(sf_dir)},
        {_IDENT_AGG.format(kb=_kb_values())}
        SELECT identity_id, canonical_name, entity_type, n_mentions, n_docs,
               n_surfaces, aliases, kb_id
        FROM idents WHERE n_mentions >= {min_mentions}
        ORDER BY n_docs DESC, n_mentions DESC, canonical_name DESC, identity_id ASC
        LIMIT {limit}
    """


def kg_edges(sf_dir: str) -> str:
    return f"""
        WITH RECURSIVE
        {_cc_ctes(sf_dir)},
        {_IDENT_AGG.format(kb=_kb_values())},
        nodes AS (SELECT identity_id, {_NODE_ID} AS node_id FROM idents),
        surf_map AS (
            SELECT k.surface, k.entity_type, c.component_id AS identity_id
            FROM keys k JOIN comps c USING (key_id)),
        t AS (SELECT lower(subj_text) AS subj_surface, subj_type,
                     lower(obj_text) AS obj_surface, obj_type, pred, confidence
              FROM {_pq(sf_dir, 'kg_triples')}),
        resolved AS (
            SELECT ns.node_id AS src_node, no_.node_id AS dst_node,
                   t.pred AS relation, t.confidence
            FROM t
            JOIN surf_map ks ON t.subj_surface = ks.surface AND t.subj_type = ks.entity_type
            JOIN surf_map ko ON t.obj_surface = ko.surface AND t.obj_type = ko.entity_type
            JOIN nodes ns ON ns.identity_id = ks.identity_id
            JOIN nodes no_ ON no_.identity_id = ko.identity_id)
        SELECT src_node, dst_node, relation, count(*) AS n_occurrences,
               max(confidence) AS confidence
        FROM resolved GROUP BY src_node, dst_node, relation
    """


def kg_communities(
    sf_dir: str, resolution: float = 1.0, max_iterations: int = 15
) -> str:
    """Leiden local moving (operators/communities.leiden_communities,
    strata/src/leiden.rs:58-160 semantics) re-derived as UNROLLED SQL:
    each round is one gain aggregation + a window argmax + the
    direction-alternating move gate — all expressible — so ``max_
    iterations`` rounds are emitted as a generated CTE chain over the
    materialized node/edge tables (VERDICT r02 next #2).

    Faithful to the Spark loop round-for-round: S(i,d) gain sums over
    the precomputed per-edge terms, stay-gain with missing-row → 0.0
    coalesce, best positive move with (delta DESC, cand ASC) tie-break
    and the 1e-12 threshold, fresh-singleton exit when s_stay < -1e-12
    and no candidate wins, even rounds move only to smaller community
    ids / odd rounds only to larger. Unrolling a FIXED round count is
    exact: the Spark loop stops after 2 quiet rounds, after which both
    parity classes are move-free, so every further unrolled round is a
    no-op on identical state.

    Every CTE is ``AS MATERIALIZED``: each round references the previous
    round's labels three times, so letting DuckDB inline the chain makes
    planning O(3^rounds) — 15 un-hinted rounds never finish planning."""
    pre = f"""
        nodes AS (SELECT node_id FROM {_pq(sf_dir, 'kg_graph_nodes')}),
        e0 AS (SELECT src_node, dst_node, confidence AS w
               FROM {_pq(sf_dir, 'kg_graph_edges')}),
        sym AS MATERIALIZED (
            SELECT a, b, sum(w) AS w FROM (
                SELECT src_node AS a, dst_node AS b, w FROM e0
                UNION ALL
                SELECT dst_node, src_node, w FROM e0)
            WHERE a <> b GROUP BY a, b),
        deg AS MATERIALIZED (SELECT a AS node_id, sum(w) AS k FROM sym GROUP BY a),
        mv AS (SELECT sum(w) / 2.0 AS m FROM sym),
        gain_edges AS MATERIALIZED (
            SELECT sym.a, sym.b,
                   sym.w - {resolution} * ka.k * kb.k / (2.0 * (SELECT m FROM mv)) AS g
            FROM sym
            JOIN deg ka ON sym.a = ka.node_id
            JOIN deg kb ON sym.b = kb.node_id),
        labels_0 AS MATERIALIZED (SELECT node_id, node_id AS community_id FROM nodes)"""
    rounds = []
    prev = "labels_0"
    for it in range(max_iterations):
        gate = "<" if it % 2 == 0 else ">"
        r = it + 1
        rounds.append(f"""
        s_{r} AS MATERIALIZED (
            SELECT ge.a AS node_id, lb.community_id AS cand, sum(ge.g) AS s
            FROM gain_edges ge JOIN {prev} lb ON ge.b = lb.node_id
            GROUP BY 1, 2),
        sc_{r} AS MATERIALIZED (
            SELECT s.node_id, s.cand, s.s, cur.community_id AS cur_comm
            FROM s_{r} s JOIN {prev} cur ON s.node_id = cur.node_id),
        stay_{r} AS MATERIALIZED (
            SELECT node_id, cur_comm, s AS s_stay FROM sc_{r} WHERE cand = cur_comm),
        cand_{r} AS MATERIALIZED (
            SELECT sc.node_id, sc.cand, sc.cur_comm,
                   sc.s - coalesce(st.s_stay, 0.0) AS delta
            FROM sc_{r} sc LEFT JOIN stay_{r} st ON sc.node_id = st.node_id
            WHERE sc.cand <> sc.cur_comm),
        best_{r} AS MATERIALIZED (
            SELECT node_id, cand AS move_to, cur_comm FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY node_id ORDER BY delta DESC, cand ASC) AS rn
                FROM cand_{r})
            WHERE rn = 1 AND delta > 1e-12),
        solo_{r} AS MATERIALIZED (
            SELECT st.node_id, st.node_id AS move_to, st.cur_comm
            FROM stay_{r} st
            WHERE st.s_stay < -1e-12
              AND NOT EXISTS (SELECT 1 FROM best_{r} b WHERE b.node_id = st.node_id)),
        moves_{r} AS MATERIALIZED (
            SELECT node_id, move_to FROM (
                SELECT * FROM best_{r} UNION ALL SELECT * FROM solo_{r})
            WHERE move_to {gate} cur_comm),
        labels_{r} AS MATERIALIZED (
            SELECT l.node_id, coalesce(m.move_to, l.community_id) AS community_id
            FROM {prev} l LEFT JOIN moves_{r} m ON l.node_id = m.node_id)""")
        prev = f"labels_{r}"
    return f"""
        WITH {pre},{','.join(rounds)},
        canon AS (SELECT community_id, min(node_id) AS canon_id
                  FROM {prev} GROUP BY community_id)
        SELECT l.node_id, c.canon_id AS community_id
        FROM {prev} l JOIN canon c ON l.community_id = c.community_id
    """


def kg_communities_lpa(
    sf_dir: str, max_iterations: int = 10
) -> str:
    """label_propagation (operators/communities.py:68-118) unrolled: per
    round every node adopts the label with the greatest incident weight
    among neighbors AND itself (self-vote 1.0 — the ADVICE r01
    oscillation fix), ties → smallest label. Fixed-round unrolling is
    exact for the same reason as the Leiden oracle: once a round changes
    nothing, every later round recomputes the same argmax."""
    pre = f"""
        nodes AS (SELECT node_id FROM {_pq(sf_dir, 'kg_graph_nodes')}),
        e0 AS (SELECT src_node, dst_node, confidence AS w
               FROM {_pq(sf_dir, 'kg_graph_edges')}),
        sym AS MATERIALIZED (
            SELECT a, b, sum(w) AS w FROM (
                SELECT src_node AS a, dst_node AS b, w FROM e0
                UNION ALL
                SELECT dst_node, src_node, w FROM e0)
            WHERE a <> b GROUP BY a, b),
        labels_0 AS MATERIALIZED (SELECT node_id, node_id AS community_id FROM nodes)"""
    rounds = []
    prev = "labels_0"
    for it in range(max_iterations):
        r = it + 1
        rounds.append(f"""
        votes_{r} AS MATERIALIZED (
            SELECT s.a AS node_id, lb.community_id, s.w
            FROM sym s JOIN {prev} lb ON s.b = lb.node_id
            UNION ALL
            SELECT node_id, community_id, 1.0 FROM {prev}),
        agg_{r} AS MATERIALIZED (
            SELECT node_id, community_id, sum(w) AS wsum
            FROM votes_{r} GROUP BY 1, 2),
        best_{r} AS MATERIALIZED (
            SELECT node_id, community_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY node_id
                    ORDER BY wsum DESC, community_id ASC) AS rn
                FROM agg_{r}) WHERE rn = 1),
        labels_{r} AS MATERIALIZED (
            SELECT l.node_id, coalesce(b.community_id, l.community_id) AS community_id
            FROM {prev} l LEFT JOIN best_{r} b ON l.node_id = b.node_id)""")
        prev = f"labels_{r}"
    return f"""
        WITH {pre},{','.join(rounds)}
        SELECT node_id, community_id FROM {prev}
    """


def kg_communities_l2(
    sf_dir: str,
    resolution: float = 1.0,
    levels: int = 2,
    max_iterations: int = 15,
) -> str:
    """HierarchicalLeiden (strata/src/lib.rs:38-112): one independent
    unrolled local-moving chain per level at resolution γ·2^level over
    the SAME materialized graph, joined on node_id — mirrors
    operators/communities.hierarchical_communities exactly."""
    ctes = []
    for level in range(levels):
        inner = kg_communities(sf_dir, resolution * (2.0 ** level), max_iterations)
        ctes.append(f"lvl{level} AS MATERIALIZED (SELECT * FROM ({inner}))")
    joins = "".join(
        f" LEFT JOIN lvl{k} ON lvl0.node_id = lvl{k}.node_id"
        for k in range(1, levels)
    )
    cols = ", ".join(
        f"lvl{k}.community_id AS level_{k}" for k in range(levels)
    )
    return f"""
        WITH {','.join(ctes)}
        SELECT lvl0.node_id, {cols} FROM lvl0{joins}
    """


def kg_export_cypher(sf_dir: str) -> str:
    """Re-derives every distributed-Cypher statement
    (operators/exports.cypher_statements) with SQL string functions:
    backslash/quote escaping, [A-Za-z0-9_] identifier sanitization with
    fallback + no-leading-digit rule, and the exact interpolation."""
    bs, q = "chr(92)", "chr(39)"  # backslash, single quote

    def esc(x: str) -> str:
        return (
            f"replace(replace(CAST({x} AS VARCHAR), {bs}, {bs}||{bs}), "
            f"{q}, {bs}||{q})"
        )

    def ident(x: str, fb: str) -> str:
        base = (
            f"CASE WHEN {x} IS NULL OR CAST({x} AS VARCHAR) = '' "
            f"THEN '{fb}' ELSE CAST({x} AS VARCHAR) END"
        )
        s = f"regexp_replace({base}, '[^A-Za-z0-9_]', '_', 'g')"
        s2 = f"(CASE WHEN {s} = '' THEN '{fb}' ELSE {s} END)"
        return (
            f"(CASE WHEN regexp_matches({s2}, '^[0-9]') "
            f"THEN '_' || {s2} ELSE {s2} END)"
        )

    return f"""
        WITH n AS (SELECT * FROM {_pq(sf_dir, 'kg_graph_nodes')}),
        e AS (SELECT * FROM {_pq(sf_dir, 'kg_graph_edges')})
        SELECT 'MERGE (n:' || {ident('node_type', 'Entity')} || ' {{id: ' || {q} ||
               {esc('node_id')} || {q} || '}}) SET n.name = ' || {q} ||
               {esc('name')} || {q} || ', n.mentions_count = ' ||
               CAST(CAST(n_mentions AS BIGINT) AS VARCHAR) || ';' AS stmt
        FROM n
        UNION ALL
        SELECT 'MATCH (a {{id: ' || {q} || {esc('src_node')} || {q} ||
               '}}), (b {{id: ' || {q} || {esc('dst_node')} || {q} ||
               '}}) MERGE (a)-[r:' || {ident("upper(relation)", 'RELATED_TO')} ||
               ']->(b) SET r.confidence = ' ||
               CAST(CAST(confidence AS DOUBLE) AS VARCHAR) || ';'
        FROM e
    """


def kg_cooccurrence(sf_dir: str, max_distance: int = 100) -> str:
    return f"""
        WITH m AS (SELECT url, mention_idx, text, entity_type, start, "end"
                   FROM {_pq(sf_dir, 'kg_mentions')}),
        pairs AS (
            SELECT a.url, a.text AS text_a, a.entity_type AS type_a,
                   b.text AS text_b, b.entity_type AS type_b,
                   'RELATED_TO' AS relation,
                   CASE WHEN b.start >= a."end" THEN b.start - a."end"
                        WHEN a.start >= b."end" THEN a.start - b."end"
                        ELSE 0 END AS distance
            FROM m a JOIN m b ON a.url = b.url AND a.mention_idx < b.mention_idx)
        SELECT url, text_a, type_a, text_b, type_b, relation, distance
        FROM pairs WHERE distance <= {max_distance}
    """


def kg_extraction_metrics(sf_dir: str) -> str:
    return f"""
        SELECT shard, count(*) AS pages,
               CAST(sum(n_mentions) AS BIGINT) AS mentions,
               CAST(sum(n_triples) AS BIGINT) AS triples,
               CAST(sum(n_tracks) AS BIGINT) AS tracks,
               CAST(sum(truncated) AS BIGINT) AS truncated_pages
        FROM {_pq(sf_dir, 'kg_page_stats')} GROUP BY shard
    """


def kg_entity_links(sf_dir: str, min_score: float = 0.5,
                    exact_bonus: float = 0.25, type_bonus: float = 0.05) -> str:
    """TF-IDF cosine + bonus scoring over the materialized LSH candidates
    (linking.py relational pipeline re-derived end-to-end in SQL)."""
    return f"""
        WITH kb AS (SELECT * FROM {_pq(sf_dir, 'link_kb')}),
        surfaces AS (SELECT key_id, surface, entity_type, n_mentions
                     FROM {_pq(sf_dir, 'kg_keys')}),
        cands AS (SELECT * FROM {_pq(sf_dir, 'link_candidates')}),
        n_alias AS (SELECT count(*) AS n FROM kb),
        kb_grams AS (
            SELECT alias_id AS key, unnest(
                CASE WHEN length(lower(alias)) < 3 THEN [lower(alias)]
                     ELSE list_transform(range(1, length(lower(alias)) - 1),
                                         i -> substr(lower(alias), i, 3)) END
            ) AS gram FROM kb),
        kb_tf AS (SELECT key, gram, count(*) AS tf FROM kb_grams GROUP BY key, gram),
        idf AS (
            SELECT gram, ln(((SELECT n FROM n_alias) + 1.0) / (count(DISTINCT key) + 1.0)) + 1.0 AS idf
            FROM kb_tf GROUP BY gram),
        kb_w AS (SELECT key, kb_tf.gram, (1.0 + ln(tf)) * idf AS w
                 FROM kb_tf JOIN idf ON kb_tf.gram = idf.gram),
        kb_norm AS (SELECT key, sqrt(sum(w * w)) AS norm FROM kb_w GROUP BY key),
        kb_post AS (SELECT kb_w.key AS alias_id, gram, w / norm AS w_alias
                    FROM kb_w JOIN kb_norm ON kb_w.key = kb_norm.key),
        s_grams AS (
            SELECT key_id AS key, unnest(
                CASE WHEN length(surface) < 3 THEN [surface]
                     ELSE list_transform(range(1, length(surface) - 1),
                                         i -> substr(surface, i, 3)) END
            ) AS gram FROM surfaces),
        s_tf AS (SELECT key, gram, count(*) AS tf FROM s_grams GROUP BY key, gram),
        s_w AS (SELECT key, s_tf.gram, (1.0 + ln(tf)) * idf AS w
                FROM s_tf JOIN idf ON s_tf.gram = idf.gram),
        s_norm AS (SELECT key, sqrt(sum(w * w)) AS norm FROM s_w GROUP BY key),
        s_post AS (SELECT s_w.key AS key_id, gram, w / norm AS w_surf
                   FROM s_w JOIN s_norm ON s_w.key = s_norm.key),
        dot AS (
            SELECT c.key_id, c.alias_id, sum(sp.w_surf * kp.w_alias) AS cosine
            FROM cands c
            JOIN s_post sp ON sp.key_id = c.key_id
            JOIN kb_post kp ON kp.alias_id = c.alias_id AND kp.gram = sp.gram
            GROUP BY c.key_id, c.alias_id),
        scored AS (
            SELECT d.key_id, s.surface, s.entity_type, k.kb_id, k.description,
                   round(d.cosine
                         + CASE WHEN lower(k.alias) = s.surface THEN {exact_bonus} ELSE 0.0 END
                         + CASE WHEN s.entity_type IN ('PER', 'ORG', 'LOC') THEN {type_bonus} ELSE 0.0 END,
                         6) AS link_score
            FROM dot d
            JOIN kb k ON k.alias_id = d.alias_id
            JOIN surfaces s ON s.key_id = d.key_id),
        best AS (
            SELECT *, row_number() OVER (
                PARTITION BY key_id ORDER BY link_score DESC, kb_id ASC) AS rn
            FROM scored)
        SELECT key_id, surface, entity_type, kb_id, description, link_score
        FROM best WHERE rn = 1 AND link_score >= {min_score}
    """


# --------------------------------------------------------------------------
# dedup oracles


def _minhash_band_pairs(sigs_cte: str, max_bucket: int = 1000) -> str:
    """bands → capped buckets → distinct (doc_a, doc_b) candidate pairs."""
    return f"""
        bands AS (
            SELECT doc_id, unnest(range(1, length(band_hashes) + 1)) AS band,
                   unnest(band_hashes) AS band_hash
            FROM {sigs_cte}),
        capped AS (SELECT band, band_hash FROM bands
                   GROUP BY band, band_hash HAVING count(*) <= {max_bucket}),
        b2 AS (SELECT bands.* FROM bands JOIN capped USING (band, band_hash)),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM b2 a JOIN b2 b
              ON a.band = b.band AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id)
    """


def _minhash_cluster_ctes(sf_dir: str, threshold: float) -> str:
    """Shared CTE chain: raw signatures → representative collapse → band
    pairs → est-Jaccard gate → recursive-CTE CC → fan-out → ``clusters``
    (cluster_id, doc_id; singleton clusters removed)."""
    return f"""
        sigs AS (SELECT * FROM {_pq(sf_dir, 'dd_sigs')}),
        reps AS (SELECT sig_id, min(doc_id) AS doc_id,
                        arg_min(signature, doc_id) AS signature,
                        arg_min(band_hashes, doc_id) AS band_hashes
                 FROM sigs GROUP BY sig_id),
        {_minhash_band_pairs('reps')},
        scored AS (
            SELECT doc_a, doc_b,
                   CAST(list_sum(list_transform(
                        range(1, length(sa.signature) + 1),
                        i -> CASE WHEN sa.signature[i] = sb.signature[i] THEN 1 ELSE 0 END
                   )) AS DOUBLE) / length(sa.signature) AS est_j
            FROM pairs
            JOIN reps sa ON sa.doc_id = doc_a
            JOIN reps sb ON sb.doc_id = doc_b),
        cedges AS (SELECT doc_a, doc_b FROM scored WHERE est_j >= {threshold}),
        csym AS (SELECT doc_a AS src, doc_b AS dst FROM cedges
                 UNION SELECT doc_b, doc_a FROM cedges),
        reach(id, comp) AS (
            SELECT doc_id, doc_id FROM reps
            UNION
            SELECT s.dst, r.comp FROM reach r JOIN csym s ON s.src = r.id
        ),
        comps AS (SELECT id, min(comp) AS component_id FROM reach GROUP BY id),
        rep_comp AS (SELECT r.sig_id, c.component_id FROM reps r
                     JOIN comps c ON c.id = r.doc_id),
        all_docs AS (SELECT s.doc_id, rc.component_id AS cluster_id
                     FROM sigs s JOIN rep_comp rc USING (sig_id)),
        sized AS (SELECT cluster_id, count(*) AS n FROM all_docs GROUP BY cluster_id),
        clusters AS (SELECT cluster_id, doc_id FROM all_docs JOIN sized USING (cluster_id)
                     WHERE n > 1)
    """


def dedup_minhash(sf_dir: str, threshold: float = 0.8) -> str:
    return f"""
        WITH RECURSIVE
        {_minhash_cluster_ctes(sf_dir, threshold)}
        SELECT cluster_id, doc_id FROM clusters
    """


def corpus_curation(
    sf_dir: str,
    stopwords,
    min_quality: float,
    langs,
    threshold: float = 0.8,
) -> str:
    """Full curation decision re-derived in SQL: exact-dup keep-first via
    a fingerprint window, near-dup keep-first over the recursive-CTE
    MinHash clusters, lang allow-list, quality threshold — with the same
    first-match drop precedence as the Spark operator."""
    lang_list = ", ".join(f"'{x}'" for x in langs)
    return f"""
        WITH RECURSIVE
        {_minhash_cluster_ctes(sf_dir, threshold)},
        ndl AS (SELECT doc_id FROM (
                    SELECT doc_id, min(doc_id) OVER (PARTITION BY cluster_id) AS m
                    FROM clusters)
                WHERE doc_id <> m),
        fp AS (SELECT doc_id, lang,
                      md5(lower(regexp_replace(trim(text), '{WS}', ' ', 'g'))) AS f
               FROM documents),
        fwin AS (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY f),
        ql AS ({doc_quality(stopwords)}),
        r AS (SELECT fp.doc_id,
                     CASE WHEN fp.doc_id <> fwin.keeper THEN 'exact_dup'
                          WHEN ndl.doc_id IS NOT NULL THEN 'near_dup'
                          WHEN fp.lang NOT IN ({lang_list}) THEN 'lang'
                          WHEN ql.quality_score < {min_quality} THEN 'low_quality'
                     END AS drop_reason
              FROM fp
              JOIN fwin USING (f)
              LEFT JOIN ndl ON ndl.doc_id = fp.doc_id
              JOIN ql ON ql.doc_id = fp.doc_id)
        SELECT doc_id, drop_reason IS NULL AS keep, drop_reason FROM r
    """


def dedup_bcubed(sf_dir: str, threshold: float = 0.8) -> str:
    """E3 — B³ (cdcr.rs:587-673 union-denominator variant) of the
    MinHash clustering vs the exact-fingerprint clustering, with BOTH
    clusterings AND the B³ sums re-derived from scratch in SQL."""
    return f"""
        WITH RECURSIVE
        {_minhash_cluster_ctes(sf_dir, threshold)},
        pred AS (
            SELECT d.doc_id AS mention_id,
                   coalesce(c.cluster_id, d.doc_id) AS pc
            FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id),
        gold AS (
            SELECT doc_id AS mention_id,
                   min(doc_id) OVER (
                       PARTITION BY md5(lower(regexp_replace(trim(text), '{WS}', ' ', 'g')))
                   ) AS gc
            FROM documents),
        pc_sizes AS (SELECT pc, count(*) AS pc_n FROM pred GROUP BY pc),
        gc_sizes AS (SELECT gc, count(*) AS gc_n FROM gold GROUP BY gc),
        inter AS (
            SELECT p.pc, g.gc, count(*) AS n_pg
            FROM pred p JOIN gold g ON p.mention_id = g.mention_id
            GROUP BY p.pc, g.gc),
        sums AS (
            SELECT sum(n_pg * n_pg * 1.0 / pc_n) AS tp,
                   sum(n_pg * n_pg * 1.0 / gc_n) AS tr
            FROM inter JOIN pc_sizes USING (pc) JOIN gc_sizes USING (gc)),
        nm AS (SELECT count(*) AS n_mentions FROM (
                 SELECT mention_id FROM pred UNION SELECT mention_id FROM gold))
        SELECT round(tp / n_mentions, 6) AS precision,
               round(tr / n_mentions, 6) AS recall,
               round(CASE WHEN tp + tr > 0
                          THEN 2.0 * (tp / n_mentions) * (tr / n_mentions)
                               / ((tp / n_mentions) + (tr / n_mentions))
                          ELSE 0.0 END, 6) AS f1,
               CAST(n_mentions AS BIGINT) AS n_mentions
        FROM sums, nm
    """


def dedup_simhash(sf_dir: str, max_hamming: int = 3) -> str:
    return f"""
        WITH sh AS (SELECT doc_id, simhash FROM {_pq(sf_dir, 'dd_simhash')}),
        bands AS (
            SELECT doc_id, simhash,
                   unnest([0, 1, 2, 3]) AS band,
                   unnest([(simhash >> 0) & 65535, (simhash >> 16) & 65535,
                           (simhash >> 32) & 65535, (simhash >> 48) & 65535]) AS band_val
            FROM sh),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS h_a, b.simhash AS h_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS hamming
        FROM pairs WHERE bit_count(xor(h_a, h_b)) <= {max_hamming}
    """


def dedup_ngram_jaccard(sf_dir: str, threshold: float = 0.5) -> str:
    return f"""
        WITH sigs AS (SELECT * FROM {_pq(sf_dir, 'dd_sigs')}),
        {_minhash_band_pairs('sigs')},
        sh AS (SELECT * FROM {_pq(sf_dir, 'dd_shingles')}),
        j AS (
            SELECT doc_a, doc_b,
                   length(list_intersect(sa.shingles, sb.shingles)) AS inter,
                   length(list_distinct(sa.shingles || sb.shingles)) AS uni
            FROM pairs
            JOIN sh sa ON sa.doc_id = doc_a
            JOIN sh sb ON sb.doc_id = doc_b),
        scored AS (
            SELECT doc_a, doc_b,
                   round(CASE WHEN uni = 0 THEN 1.0
                              ELSE CAST(inter AS DOUBLE) / uni END, 6) AS jaccard
            FROM j)
        SELECT * FROM scored WHERE jaccard >= {threshold}
    """


def dedup_embedding(sf_dir: str, min_cosine: float = 0.8, max_hamming: int = 16) -> str:
    """Embedding-cosine near-dup re-derived end-to-end from the
    materialized doc vectors: 4×16-bit Hamming bands, exact-cosine gate
    (rounded to 4 dp like the Spark side), recursive-CTE connected
    components, cluster-size filter."""
    return f"""
        WITH RECURSIVE
        dv AS (SELECT * FROM {_pq(sf_dir, 'dd_docvecs')}),
        bands AS (
            SELECT doc_id, bhash,
                   unnest([0, 1, 2, 3]) AS band,
                   unnest([(bhash >> 0) & 65535, (bhash >> 16) & 65535,
                           (bhash >> 32) & 65535, (bhash >> 48) & 65535]) AS band_val
            FROM dv),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.bhash AS h_a, b.bhash AS h_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
        cedges AS (
            SELECT doc_a, doc_b
            FROM cand
            JOIN dv va ON va.doc_id = doc_a
            JOIN dv vb ON vb.doc_id = doc_b
            WHERE bit_count(xor(h_a, h_b)) <= {max_hamming}
              AND round(list_dot_product(va.v, vb.v) /
                        (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))),
                        4) >= {min_cosine}),
        csym AS (SELECT doc_a AS src, doc_b AS dst FROM cedges
                 UNION SELECT doc_b, doc_a FROM cedges),
        reach(id, comp) AS (
            SELECT doc_id, doc_id FROM dv
            UNION
            SELECT s.dst, r.comp FROM reach r JOIN csym s ON s.src = r.id
        ),
        comps AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY id),
        sized AS (SELECT cluster_id, count(*) AS n FROM comps GROUP BY cluster_id)
        SELECT cluster_id, doc_id FROM comps JOIN sized USING (cluster_id)
        WHERE n > 1
    """


# --------------------------------------------------------------------------
# text stats / quality / language


def doc_quality(stopwords) -> str:
    stop = "[" + ", ".join(f"'{w}'" for w in stopwords) + "]"
    return f"""
        WITH t AS (
            SELECT doc_id, text,
                   list_filter(regexp_split_to_array(lower(trim(text)), '{WS}'),
                               x -> x <> '') AS toks,
                   length(text) AS n
            FROM documents),
        c AS (
            SELECT doc_id,
                   CAST(length(toks) AS INTEGER) AS n_tokens,
                   CASE WHEN length(toks) = 0 THEN 0.0
                        ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                             / length(toks) END AS mean_tok,
                   CASE WHEN n = 0 THEN 0.0
                        ELSE (n - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))) * 1.0 / n
                        END AS alpha,
                   CASE WHEN length(toks) = 0 THEN 0.0
                        ELSE least(length(list_intersect(list_distinct(toks), {stop})) / 5.0, 1.0)
                        END AS stop_ratio
            FROM t)
        SELECT doc_id, n_tokens,
               round(mean_tok, 6) AS mean_token_len,
               round(alpha, 6) AS alpha_ratio,
               round(stop_ratio, 6) AS stopword_signal,
               round((CASE WHEN mean_tok >= 2.0 AND mean_tok <= 12.0 THEN 1.0 ELSE 0.0 END
                      + alpha + stop_ratio) / 3.0, 6) AS quality_score
        FROM c
    """


def lang_detect() -> str:
    """Transcription of textops.detect_language (lang.rs:54-120 port):
    per-script character counts, weighted Latin diacritics, first-max
    argmax in _LANGS order, Han+kana → ja override. The diacritic
    classes are the module-level INDEPENDENT literals (drift-tested),
    not imports from the Spark-side module."""

    def count_expr(inner: str, weight: int = 1) -> str:
        # chars-in-class count via regexp_replace; alphabetic members only
        # (detect_language skips non-alpha before bucketing)
        e = f"length(regexp_replace(text, '[^{inner}]', '', 'g'))"
        return e if weight == 1 else f"{weight} * {e}"

    counts = {
        "en": "length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))",
        "de": count_expr(LANG_DE_CHARS, 10),
        "fr": count_expr(LANG_FR_CHARS, 5),
        "es": count_expr(LANG_ES_CHARS, 5),
        "it": "0",
        "pt": "0",
        "ru": r"length(regexp_replace(text, '[^\x{0400}-\x{04FF}]', '', 'g'))",
        "zh": r"length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g'))",
        "ja": r"length(regexp_replace(text, '[^\x{3040}-\x{30FF}]', '', 'g'))",
        "ko": r"length(regexp_replace(text, '[^\x{AC00}-\x{D7AF}]', '', 'g'))",
        "ar": r"length(regexp_replace(text, '[^\x{0600}-\x{06FF}]', '', 'g'))",
        "he": r"length(regexp_replace(text, '[^\x{0590}-\x{05FF}]', '', 'g'))",
        "other": "0",
    }
    order = ["en", "de", "fr", "es", "it", "pt", "ru", "zh", "ja", "ko", "ar", "he", "other"]
    cols = ",\n".join(f"{counts[k]} AS c_{k}" for k in order)
    gmax = "greatest(" + ", ".join(f"c_{k}" for k in order) + ")"
    ladder = " ".join(f"WHEN c_{k} >= {gmax} THEN '{k}'" for k in order)
    return f"""
        WITH c AS (
            SELECT doc_id,
                   length(regexp_replace(text, '[^\\p{{L}}]', '', 'g')) AS total,
                   {cols}
            FROM documents),
        w AS (SELECT doc_id, total, c_ja, CASE {ladder} END AS winner FROM c)
        SELECT doc_id,
               CASE WHEN total = 0 THEN 'en'
                    WHEN winner = 'zh' AND c_ja > 0 THEN 'ja'
                    ELSE winner END AS detected_lang
        FROM w
    """


# --------------------------------------------------------------------------
# URL / domain analysis


def _url_parse_ctes(sf_dir: str) -> str:
    """host/path via regexp (independent of Spark's parse_url), last-two-
    label registered domain, non-empty path-segment depth.

    The authority component keeps userinfo and port in the raw URL
    (``user@host:8080``); Spark's ``parse_url(HOST)`` strips both, so the
    oracle strips a leading ``[^@/]*@`` and a trailing ``:digits`` too
    (ADVICE r02 — parity used to break on any URL carrying either)."""
    return f"""
        p AS (SELECT * FROM {_pq(sf_dir, 'pages_meta')}),
        u AS (SELECT url, warc_ts, lang,
                lower(regexp_replace(regexp_replace(
                    regexp_extract(url, '://([^/?#]+)', 1),
                    '^[^@/]*@', ''), ':[0-9]+$', '')) AS host,
                regexp_extract(url, '://[^/?#]+([^?#]*)', 1) AS path
              FROM p),
        x AS (SELECT *, string_split(host, '.') AS parts FROM u),
        y AS (SELECT url, warc_ts, lang, host,
                CASE WHEN length(parts) >= 2
                     THEN parts[length(parts) - 1] || '.' || parts[length(parts)]
                     ELSE host END AS domain,
                parts[length(parts)] AS tld,
                length(list_filter(string_split(path, '/'), s -> s <> '')) AS path_depth
              FROM x)
    """


def web_profile(sf_dir: str) -> str:
    """url_parts + domain_profile as one tagged union (r04 surface fold);
    each arm NULL-pads the other's typed columns."""
    return f"""
        WITH {_url_parse_ctes(sf_dir)}
        SELECT 'url' AS family, url, host, domain, tld,
               CAST(path_depth AS BIGINT) AS path_depth,
               CAST(NULL AS BIGINT) AS n_pages,
               CAST(NULL AS BIGINT) AS n_hosts,
               CAST(NULL AS DOUBLE) AS avg_path_depth,
               CAST(NULL AS BIGINT) AS n_langs,
               CAST(NULL AS TIMESTAMP) AS first_crawl,
               CAST(NULL AS TIMESTAMP) AS last_crawl
        FROM y
        UNION ALL
        SELECT 'domain' AS family,
               CAST(NULL AS VARCHAR) AS url,
               CAST(NULL AS VARCHAR) AS host,
               domain,
               CAST(NULL AS VARCHAR) AS tld,
               CAST(NULL AS BIGINT) AS path_depth,
               count(*) AS n_pages,
               count(DISTINCT host) AS n_hosts,
               round(avg(path_depth), 6) AS avg_path_depth,
               count(DISTINCT lang) AS n_langs,
               min(warc_ts) AS first_crawl,
               max(warc_ts) AS last_crawl
        FROM y GROUP BY domain
    """


# --------------------------------------------------------------------------
# ANN oracles


def ann_ivf_topk(
    sf_dir_testdata: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
) -> str:
    """Centroids recomputed Spark-free (identical hash-ordered sample +
    numpy k-means) and inlined as literals; assignment, probe pruning and
    exact rerank re-derived in SQL."""
    import os as _os

    from anno_spark.operators.simsearch import train_centroids_local

    cents = train_centroids_local(
        _os.path.join(sf_dir_testdata, "embeddings.parquet"),
        n_centroids=n_centroids,
    )
    vals = ", ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(float(v)) for v in row))
        for i, row in enumerate(cents)
    )
    return f"""
        WITH cents(cid, cv) AS (VALUES {vals}),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        dassign AS (
            SELECT vec_id, v, cid FROM (
                SELECT vec_id, v, cid, row_number() OVER (
                    PARTITION BY vec_id
                    ORDER BY list_dot_product(v, cv) DESC, cid ASC) AS rn
                FROM e, cents) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
        qassign AS (
            SELECT query_id, qv, cid FROM (
                SELECT query_id, qv, cid, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY list_dot_product(qv, cv) DESC, cid ASC) AS rn
                FROM q, cents) WHERE rn <= {nprobe}),
        cand AS (SELECT query_id, qv, vec_id, v
                 FROM qassign JOIN dassign USING (cid)
                 WHERE vec_id <> query_id),
        s AS (SELECT query_id, vec_id AS neighbor_id,
                     list_dot_product(qv, v) /
                     (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS csim
              FROM cand),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY csim DESC, neighbor_id ASC) AS rank
              FROM s)
        SELECT query_id, neighbor_id, rank, round(csim, 4) AS sim
        FROM r WHERE rank <= {k}
    """


def ann_hamming_pairs(sf_dir: str, max_hamming: int = 16) -> str:
    """X8 two-stage retrieval re-derived: bands from the raw sign-hash,
    Hamming filter, exact cosine rerank from the embeddings view."""
    return f"""
        WITH bh AS (SELECT * FROM {_pq(sf_dir, 'ann_bhash')}),
        bands AS (
            SELECT vec_id, bhash,
                   unnest([0, 1, 2, 3]) AS band,
                   unnest([(bhash >> 0) & 65535, (bhash >> 16) & 65535,
                           (bhash >> 32) & 65535, (bhash >> 48) & 65535]) AS band_val
            FROM bh),
        pairs AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   a.bhash AS h_a, b.bhash AS h_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
        f AS (SELECT vec_a, vec_b,
                     CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS hamming
              FROM pairs WHERE bit_count(xor(h_a, h_b)) <= {max_hamming}),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT vec_a, vec_b, hamming,
               round(list_dot_product(ea.v, eb.v) /
                     (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))),
                     4) AS cosine
        FROM f
        JOIN e ea ON ea.vec_id = vec_a
        JOIN e eb ON eb.vec_id = vec_b
    """


# --------------------------------------------------------------------------
# multimodal


def media_profile(sf_dir: str) -> str:
    return f"""
        SELECT kind, count(*) AS n_items,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
               round(avg(duration_ms), 2) AS avg_duration_ms
        FROM {_pq(sf_dir, 'media_features')} GROUP BY kind
    """
