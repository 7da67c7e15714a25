"""Physical-plan quality gates: these assert the plans Catalyst produces
are the plans we designed for at 100 TB — filters reach the parquet
scan, scans are column-pruned, small dimensions broadcast. A regression
here is a 100× cost bug at scale even when results stay correct.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestPushdownAndPruning:
    def test_lineitem_filter_pushed_to_scan(self, spark, sf_dir):
        df = entry_mod.q_rel_agg_lineitem(spark, sf_dir)
        plan = _plan(df)
        assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]

    def test_doc_stats_scan_pruned(self, spark, sf_dir):
        df = entry_mod.q_doc_stats(spark, sf_dir)
        plan = _plan(df)
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "text" in read_schema and "doc_id" in read_schema
        assert "source" not in read_schema and "lang" not in read_schema

    def test_extraction_reads_only_url_and_text(self, spark, sf_dir):
        # pages_from_documents only needs doc_id from the parquet scan
        from anno_spark.sources.pages import pages_from_documents

        df = pages_from_documents(spark, sf_dir)
        plan = _plan(df)
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "doc_id" in read_schema and "text" not in read_schema


class TestJoinStrategies:
    def test_region_sales_uses_broadcast_join(self, spark, sf_dir):
        plan = _plan(entry_mod.q_rel_broadcast_region_sales(spark, sf_dir))
        assert "BroadcastHashJoin" in plan

    def test_ann_topk_scores_in_vectorized_partial_topk(self, spark, sf_dir):
        # r06: the brute scoring is a mapInPandas partial top-k — no
        # per-pair join node of any kind is left in the plan (the old
        # BroadcastNestedLoopJoin evaluated an interpreted HOF cosine on
        # every query×data pair), and the window ranks only survivors
        plan = _plan(entry_mod.q_ann_cosine_topk(spark, sf_dir))
        assert "MapInPandas" in plan
        for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "Join"):
            assert node not in plan, node
        assert "Window" in plan

    def test_anti_join_planned_as_join_not_subquery_loop(self, spark, sf_dir):
        plan = _plan(entry_mod.q_rel_anti_join(spark, sf_dir))
        assert "LeftAnti" in plan

    def test_kg_edges_uses_broadcast_for_dims(self, spark):
        from anno_spark.operators import extract as ex
        from anno_spark.operators import graph as g
        from anno_spark.operators import resolve as rx
        from anno_spark.sources.pages import synthesize_pages

        extracted = ex.extract_documents(synthesize_pages(spark, 30)).localCheckpoint()
        mentions = ex.mentions_table(extracted)
        triples = ex.triples_table(extracted)
        keyed, idents, _ = rx.resolve_mentions(mentions)
        nodes = g.nodes_table(idents)
        edges = g.edges_table(
            triples,
            keyed.selectExpr("surface", "entity_type", "component_id as identity_id"),
            nodes,
        )
        assert "BroadcastHashJoin" in _plan(edges)


class TestAggregationShape:
    def test_partial_aggregation_before_shuffle(self, spark, sf_dir):
        # map-side combine: HashAggregate appears both before and after
        # the exchange for the lineitem rollup
        plan = _plan(entry_mod.q_rel_agg_lineitem(spark, sf_dir))
        assert plan.count("HashAggregate") >= 2
        assert "Exchange" in plan

    def test_whole_stage_codegen_in_relational_path(self, spark, sf_dir):
        # AQE prints the final (codegen'd) plan only after execution
        df = entry_mod.q_rel_join_topcustomers(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "isFinalPlan=true" in plan
        assert "WholeStageCodegen" in plan or "*(" in plan


class TestRound2PlanShapes:
    def test_top_clusters_is_take_ordered(self, spark, sf_dir):
        # global top-k must plan as TakeOrderedAndProject (per-partition
        # top-k + k-row driver merge), never a full sort shuffle
        plan = _plan(entry_mod.q_kg_top_clusters(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan

    def test_label_filter_pushed_to_scan(self, spark, sf_dir):
        # N7 predicate must reach the materialized-mentions parquet scan
        df = entry_mod.q_ner_label_filter(spark, sf_dir)
        plan = _plan(df)
        assert "PushedFilters" in plan
        assert "entity_type" in plan.split("PushedFilters")[1][:300]

    def test_binary_hash_pairs_no_cartesian(self, spark, sf_dir):
        # X8 blocking is an equi-join on (band, band_val) — a cartesian
        # here is the quadratic-blowup regression
        import os

        from anno_spark.operators.simsearch import binary_hash_pairs

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        plan = _plan(binary_hash_pairs(emb, max_hamming=24))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_ivf_join_is_equi_on_centroid(self, spark, sf_dir):
        # the IVF probe join must be an equi-join (centroid_id), not the
        # brute-force cross join it replaces
        plan = _plan(entry_mod.q_ann_ivf_topk(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "centroid_id" in plan

    def test_ml_ner_reads_only_url_and_text(self, spark, sf_dir):
        from anno_spark.operators.ml_ner import KeywordModel, ml_mentions_table
        from anno_spark.sources.pages import pages_from_documents

        pages = pages_from_documents(spark, sf_dir)
        df = ml_mentions_table(pages, lambda: KeywordModel({"x": "ORG"}))
        # the page synthesis scan needs only doc_id; no html column flows
        plan = _plan(df)
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "doc_id" in read_schema


class TestSkewProofBandJoins:
    """The banded blockers must plan the small-table path as a broadcast
    join with a round-robin-spread probe side: a shuffled equi-join would
    serialize each hot (band, hash) bucket's pair explosion into one task
    (AQE splits partitions, never single keys)."""

    def test_minhash_band_join_broadcasts_when_small(self, spark, sf_dir):
        import os

        from anno_spark.operators.dedup import (
            doc_signatures_with_id,
            minhash_candidate_pairs,
        )

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        pairs = minhash_candidate_pairs(
            doc_signatures_with_id(docs), min_est_jaccard=0.8
        )
        plan = _plan(pairs)
        # r06: the small path generates bucket pairs inside the fused
        # python kernel — no band self-join remains in the plan at all,
        # and in particular no shuffled join a hot bucket could serialize
        assert "MapInPandas" in plan
        assert "SortMergeJoin" not in plan and "Join" not in plan
        # the fused scorer spread over one task per core (equal-visit
        # slices of the broadcast index), before the pair explosion
        par = spark.sparkContext.defaultParallelism
        assert f"splits={par})" in plan
        assert pairs.rdd.getNumPartitions() == par

    def test_minhash_large_fallback_runs_and_matches(
        self, spark, sf_dir, monkeypatch
    ):
        """The web-scale path (no explicit broadcast hints, dedup before
        scoring) must produce the same pair set as the broadcast path.
        (The only plan-shape assert is that the fused small-path scorer
        is absent: on genuinely tiny data Catalyst may still pick a
        broadcast join from its own stats — correctly.)"""
        import os

        from anno_spark.operators.dedup import (
            doc_signatures_with_id,
            minhash_candidate_pairs,
        )

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        sigs = doc_signatures_with_id(docs).localCheckpoint()
        small = {
            (r["doc_a"], r["doc_b"], round(r["est_jaccard"], 6))
            for r in minhash_candidate_pairs(sigs, min_est_jaccard=0.8).collect()
        }
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_FORCE_FALLBACK", "1")
            forced = minhash_candidate_pairs(sigs, min_est_jaccard=0.8)
            # the fused scorer runs only on the broadcast branch
            assert "MapInPandas" not in _plan(forced)
            large = {
                (r["doc_a"], r["doc_b"], round(r["est_jaccard"], 6))
                for r in forced.collect()
            }
        assert small == large and len(small) > 0

    def test_minhash_emit_once_matches_dedup_with_dropped_buckets(
        self, spark, sf_dir, monkeypatch
    ):
        """The small path dedups band-duplicate pairs inside the pair
        kernel (emit once from the pair's first shared SURVIVING band;
        the cap drops buckets inside the bucket index). With a tiny
        bucket cap forcing drops, a pair
        whose first raw shared band was dropped must still be emitted —
        from its first surviving band — exactly once, matching the
        shuffled path's dropDuplicates semantics."""
        import os

        from anno_spark.operators.dedup import (
            doc_signatures_with_id,
            minhash_candidate_pairs,
        )

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        sigs = doc_signatures_with_id(docs).localCheckpoint()
        small = minhash_candidate_pairs(
            sigs, max_bucket_size=5, min_est_jaccard=0.8
        )
        rows = small.collect()
        pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
        assert len(rows) == len(pairs), "a pair was emitted from >1 band"
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_FORCE_FALLBACK", "1")
            forced = minhash_candidate_pairs(
                sigs, max_bucket_size=5, min_est_jaccard=0.8
            )
            # the fused scorer runs only on the broadcast branch
            assert "MapInPandas" not in _plan(forced)
            large = {(r["doc_a"], r["doc_b"]) for r in forced.collect()}
        assert pairs == large and len(pairs) > 0

    def test_minhash_small_path_has_no_pair_shuffle(self, spark, sf_dir):
        """The small path must be map-only past the band explosion: no
        hash exchange sits downstream of the pair generation, so shuffle
        volume is independent of how many candidate pairs explode (the
        r04 plan still shuffled ~2.4x the distinct-pair count through a
        dropDuplicates exchange)."""
        import os
        import re

        from anno_spark.operators.dedup import (
            doc_signatures_with_id,
            minhash_candidate_pairs,
        )

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        pairs = minhash_candidate_pairs(
            doc_signatures_with_id(docs), min_est_jaccard=0.8
        )
        plan = _plan(pairs)
        # no aggregation-style dedup on the pair stream
        assert "dropDuplicates" not in plan
        n_hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_hash_exchanges == 0, plan

    def test_driver_cc_result_is_broadcast_join(self, spark):
        from pyspark.sql import functions as F

        from anno_spark.operators.resolve import connected_components

        nodes = spark.range(100).select(F.col("id").alias("key_id"))
        edges = spark.createDataFrame(
            [(0, 1), (1, 2)], "key_a bigint, key_b bigint"
        )
        out = connected_components(nodes, edges)
        plan = _plan(out)
        assert "BroadcastHashJoin" in plan  # comp map broadcast onto nodes


class TestNewOpPlans:
    def test_domain_profile_single_partial_agg(self, spark, sf_dir):
        """One groupBy on domain with map-side partial aggregation."""
        from anno_spark.operators.urlstats import domain_profile
        from anno_spark.sources.pages import pages_from_documents

        plan = _plan(domain_profile(pages_from_documents(spark, sf_dir)))
        assert "partial_count" in plan or "HashAggregate" in plan
        # countDistinct(host/lang) expands, but no join anywhere
        assert "Join" not in plan.replace("JoinType", "")

    def test_curation_no_cartesian_and_broadcast_losers(self, spark, sf_dir):
        import os

        from anno_spark.operators.curation import curate_corpus

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        plan = _plan(curate_corpus(docs))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan  # near-dup losers join back small
