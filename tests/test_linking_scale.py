"""Entity linking stressed beyond the 19-entry demo KB (VERDICT r02
next #5): a deterministic synthetic 10^4-alias KB with heavy shared
3-gram structure, verifying

* the broadcast-postings assumption stays bounded (postings rows ≈
  aliases × grams/alias — the quantity every KB-side join broadcasts),
* LSH-blocked candidate recall: every surface that IS a KB alias
  verbatim must reach its alias as a candidate (identical strings ⇒
  identical minhash bands ⇒ guaranteed bucket collision), and a
  perturbed-surface recall floor,
* end-to-end linking quality + winner determinism under exact ties
  (same alias string under two kb_ids ⇒ equal scores ⇒ min kb_id wins).

The reference ceiling is the 19-entry demo map (anno/src/cli/
utils.rs:555-625); this suite covers the 'north-star scoring' claim the
linking layer actually makes (linking.py module docstring).
"""

from __future__ import annotations

import pytest

N_ENTITIES = 2_500  # × 4 alias variants = 10^4 aliases

_SECTORS = ("systems", "dynamics", "logistics", "analytics", "robotics")
_STEMS = ("acme", "globex", "initech", "umbrella", "vandelay",
          "wonka", "stark", "wayne", "tyrell", "cyberdyne")


def _kb_rows():
    """10^4 deterministic aliases with shared 3-gram structure: every
    entity name reuses one of 10 stems and one of 5 sectors, so grams
    like 'acm'/'yst' appear in thousands of aliases (the IDF and the
    LSH bucketing both get stressed, unlike 19 unique names)."""
    rows = []
    for i in range(N_ENTITIES):
        stem = _STEMS[i % 10]
        sector = _SECTORS[i % 5]
        name = f"{stem} {sector} {i:04d}"
        qid = f"Q{i:05d}"
        desc = f"synthetic entity {i}"
        rows.append((name, qid, desc))                       # canonical
        rows.append((f"{stem} {i:04d}", qid, desc))          # short alias
        rows.append((f"{name} incorporated", qid, desc))     # long alias
        rows.append((f"{stem[:3]}{i:04d}", qid, desc))       # ticker-ish
    return rows


@pytest.fixture(scope="module")
def big_kb_index(spark):
    from anno_spark.operators import linking

    kb = spark.createDataFrame(
        _kb_rows(), "alias string, kb_id string, description string"
    )
    return linking.build_kb_index(spark, kb)


def _surfaces(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "surface string, entity_type string")
    return df.withColumn("key_id", F.xxhash64("surface", "entity_type")).withColumn(
        "n_mentions", F.lit(1)
    )


class TestBigKb:
    def test_postings_stay_broadcastable(self, big_kb_index):
        n_aliases = big_kb_index["aliases"].count()
        assert n_aliases == 4 * N_ENTITIES
        n_postings = big_kb_index["postings"].count()
        # grams per alias is bounded (~len(alias)); at 8 B×3 cols per
        # posting row this must sit far under the broadcast budget
        assert n_postings < 40 * n_aliases
        est_bytes = n_postings * 48
        from anno_spark.plans.sizing import MAX_BROADCAST_BYTES

        assert est_bytes < MAX_BROADCAST_BYTES / 10

    def test_exact_surface_candidate_recall_is_total(self, spark, big_kb_index):
        """Surfaces that equal a KB alias verbatim MUST produce their
        alias as an LSH candidate — identical strings share every band."""
        from anno_spark.operators import linking

        sample = [r for i, r in enumerate(_kb_rows()) if i % 293 == 0][:40]
        surfaces = _surfaces(spark, [(a.lower(), "ORG") for a, _, _ in sample])
        cands = linking.link_candidates(surfaces, big_kb_index)
        surf = surfaces.toPandas().set_index("surface")["key_id"]
        alias_ids = (
            big_kb_index["aliases"].toPandas().set_index(
                big_kb_index["aliases"].toPandas()["alias"].str.lower()
            )["alias_id"]
        )
        got = {(r["key_id"], r["alias_id"]) for r in cands.collect()}
        for alias, _, _ in sample:
            key = int(surf[alias.lower()])
            aid = alias_ids[alias.lower()]
            aid = int(aid.iloc[0]) if hasattr(aid, "iloc") else int(aid)
            assert (key, aid) in got, alias

    def test_end_to_end_linking_on_big_kb(self, spark, big_kb_index):
        """Exact surfaces link to their own kb_id; perturbed surfaces
        (one token dropped) still reach the right entity >= 80%."""
        from anno_spark.operators import linking

        exact = [f"{_STEMS[i % 10]} {_SECTORS[i % 5]} {i:04d}"
                 for i in range(0, 400, 13)]
        # drop the sector token → still shares stem + number grams
        perturbed = [f"{_STEMS[i % 10]} {i:04d}x" for i in range(0, 400, 13)]
        rows = [(s, "ORG") for s in exact] + [(s, "ORG") for s in perturbed]
        surfaces = _surfaces(spark, rows)
        links = linking.link_surfaces(surfaces, big_kb_index).toPandas()
        by_surface = links.set_index("surface")["kb_id"].to_dict()
        for i in range(0, 400, 13):
            s = f"{_STEMS[i % 10]} {_SECTORS[i % 5]} {i:04d}"
            assert by_surface.get(s) == f"Q{i:05d}", s
        hits = sum(
            1
            for i in range(0, 400, 13)
            if by_surface.get(f"{_STEMS[i % 10]} {i:04d}x") == f"Q{i:05d}"
        )
        assert hits >= 0.8 * len(perturbed), f"perturbed recall {hits}/{len(perturbed)}"

    def test_link_candidates_hashes_only_the_surfaces(
        self, spark, big_kb_index, monkeypatch
    ):
        """build_kb_index hashes the alias bands once, checkpointed: on
        the broadcast and the shuffled plan alike, link_candidates' only
        MapInPandas hashes the surfaces. The alias side used to run its
        own MapInPandas over the whole alias table twice per call, once
        per broadcast."""
        from anno_spark.operators import linking

        sample = [r for i, r in enumerate(_kb_rows()) if i % 293 == 0][:40]
        surfaces = _surfaces(spark, [(a.lower(), "ORG") for a, _, _ in sample])
        for plan_kind in ("broadcast", "shuffled"):
            if plan_kind == "shuffled":
                monkeypatch.setattr(linking, "fits_broadcast", lambda *a, **k: False)
            cands = linking.link_candidates(surfaces, big_kb_index)
            plan = cands._jdf.queryExecution().executedPlan().toString()
            assert plan.count("MapInPandas") == 1, (plan_kind, plan)
            assert cands.count() > 0, plan_kind

    def test_winner_determinism_under_ties(self, spark):
        """The same alias string registered under two kb_ids scores
        identically for an exact surface → the window tie-break must
        deterministically pick the smaller kb_id."""
        from anno_spark.operators import linking

        rows = [("tiebreak holdings", "Q90001", "a"),
                ("tiebreak holdings", "Q90000", "b"),
                ("other name", "Q90002", "c")]
        kb = spark.createDataFrame(rows, "alias string, kb_id string, description string")
        idx = linking.build_kb_index(spark, kb)
        surfaces = _surfaces(spark, [("tiebreak holdings", "ORG")])
        out = linking.link_surfaces(surfaces, idx).collect()
        assert len(out) == 1
        assert out[0]["kb_id"] == "Q90000"


# ---------------------------------------------------------------------------
# 10^6-alias KB (VERDICT r03 next #6): past the broadcast-postings byte
# budget the KB-side joins must drop the broadcast hint and run as
# shuffled equi-joins — same code path, plan-gated — with exact-surface
# recall still total.

N_BIG_ENTITIES = 250_000  # × 4 alias variants = 10^6 aliases


def _million_alias_kb(spark):
    """10^6 deterministic aliases generated ENTIRELY with Spark
    expressions (a 10^6-row python list through createDataFrame would
    serialize on the driver): same stem/sector/number scheme as
    _kb_rows so gram structure and IDF stress carry over."""
    from pyspark.sql import functions as F

    stems = F.array(*[F.lit(s) for s in _STEMS])
    sectors = F.array(*[F.lit(s) for s in _SECTORS])
    base = spark.range(0, N_BIG_ENTITIES, 1, 32).select(
        F.element_at(stems, (F.col("id") % 10 + 1).cast("int")).alias("stem"),
        F.element_at(sectors, (F.col("id") % 5 + 1).cast("int")).alias("sector"),
        F.lpad(F.col("id").cast("string"), 6, "0").alias("num"),
    )
    name = F.concat_ws(" ", "stem", "sector", "num")
    variants = F.array(
        name,
        F.concat_ws(" ", "stem", "num"),
        F.concat(name, F.lit(" incorporated")),
        F.concat(F.substring("stem", 1, 3), "num"),
    )
    return base.select(
        F.explode(variants).alias("alias"),
        F.concat(F.lit("Q"), "num").alias("kb_id"),
        F.concat(F.lit("synthetic entity "), "num").alias("description"),
    )


@pytest.fixture(scope="module")
def million_kb_index(spark):
    from anno_spark.operators import linking

    return linking.build_kb_index(spark, _million_alias_kb(spark))


class TestEmitOnceCandidates:
    """link_candidates' broadcast path dedups (key_id, alias_id)
    MAP-SIDE (emit once from the pair's first shared band, read off the
    two broadcast-attached band-hash vectors) — it must match the
    shuffled fallback's dropDuplicates semantics exactly, emit each pair
    exactly once, and plan with zero hash-partitioning exchanges
    downstream of the band explosion."""

    def test_matches_shuffled_fallback(self, spark, big_kb_index, monkeypatch):
        from anno_spark.operators import linking

        # exact aliases share ALL 5 bands with their KB row, so the
        # emit-once filter is exercised on genuinely multi-band pairs
        sample = [r for i, r in enumerate(_kb_rows()) if i % 97 == 0][:60]
        surfaces = _surfaces(
            spark,
            [(a.lower(), "ORG") for a, _, _ in sample]
            + [("zzz unrelated surface", "ORG")],
        ).localCheckpoint()
        rows = linking.link_candidates(surfaces, big_kb_index).collect()
        pairs = {(r["key_id"], r["alias_id"]) for r in rows}
        assert len(rows) == len(pairs), "a pair was emitted from >1 band"
        monkeypatch.setattr(linking, "fits_broadcast", lambda *a, **k: False)
        shuffled = {
            (r["key_id"], r["alias_id"])
            for r in linking.link_candidates(surfaces, big_kb_index).collect()
        }
        assert pairs == shuffled and len(pairs) > 0

    def test_broadcast_path_has_no_pair_shuffle(self, spark, big_kb_index):
        """Map-only past the band explosion: shuffle volume must be
        independent of the candidate-pair count."""
        import re

        from anno_spark.operators import linking

        sample = [r for i, r in enumerate(_kb_rows()) if i % 293 == 0][:40]
        surfaces = _surfaces(spark, [(a.lower(), "ORG") for a, _, _ in sample])
        cands = linking.link_candidates(surfaces, big_kb_index)
        plan = cands._jdf.queryExecution().executedPlan().toString()
        assert "dropDuplicates" not in plan
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0, plan


class TestMillionAliasKb:
    def test_postings_exceed_broadcast_budget_and_gate_off(self, million_kb_index):
        """The exact gate the operator evaluates: ~1.4e7 posting rows ×
        POSTING_BYTES_EST must exceed MAX_BROADCAST_BYTES, so the dot
        join runs un-hinted; the tiny 3-gram IDF table stays broadcast."""
        from anno_spark.operators.linking import IDF_BYTES_EST, POSTING_BYTES_EST
        from anno_spark.plans.sizing import fits_broadcast

        assert million_kb_index["n_aliases"] == 4 * N_BIG_ENTITIES
        assert million_kb_index["n_postings"] > 10_000_000
        assert not fits_broadcast(
            million_kb_index["n_postings"], POSTING_BYTES_EST
        )
        assert fits_broadcast(million_kb_index["n_grams"], IDF_BYTES_EST)

    def test_plan_has_shuffled_join_and_exact_recall_total(
        self, spark, million_kb_index
    ):
        """End-to-end at 10^6 aliases: the physical plan carries at least
        one non-broadcast join (the postings dot product), and every
        surface that IS a canonical alias links to its own kb_id."""
        from anno_spark.operators import linking

        ids = list(range(0, N_BIG_ENTITIES, 2503))[:100]
        exact = [
            f"{_STEMS[i % 10]} {_SECTORS[i % 5]} {i:06d}" for i in ids
        ]
        surfaces = _surfaces(spark, [(s, "ORG") for s in exact])
        links = linking.link_surfaces(surfaces, million_kb_index)
        plan = links._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        by_surface = (
            links.toPandas().set_index("surface")["kb_id"].to_dict()
        )
        for i in ids:
            s = f"{_STEMS[i % 10]} {_SECTORS[i % 5]} {i:06d}"
            assert by_surface.get(s) == f"Q{i:06d}", s


def test_per_row_estimates_cover_measured_broadcast_bytes():
    """The KB-side byte gates use per-row estimates at least as large as
    the broadcast hash relations measured on the 10^6-alias KB (postings
    148.6, alias band rows 107, aliases 167.8 B/row). At the measured
    rate a KB with 2·10⁶ posting rows broadcasts ~297 MB, over the
    256 MiB budget, so its postings must not pass the gate."""
    from anno_spark.operators.linking import (
        ALIAS_BYTES_EST,
        BAND_BYTES_EST,
        POSTING_BYTES_EST,
    )
    from anno_spark.plans.sizing import fits_broadcast

    assert (POSTING_BYTES_EST, BAND_BYTES_EST, ALIAS_BYTES_EST) >= (149, 107, 168)
    assert not fits_broadcast(2_000_000, POSTING_BYTES_EST)
