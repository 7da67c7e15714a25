"""Distributed-vs-oracle parity for the full KG pipeline (SURVEY §5).

The pure-Python core (anno_spark.core) is the oracle: the Spark pipeline
must reproduce its per-document output exactly and its cross-document
clusters exactly (as sets), on the deterministic synthetic corpus.
"""

from __future__ import annotations

import pytest

from anno_spark import corpus
from anno_spark.core import cdcr
from anno_spark.core.document import extract_document
from anno_spark.operators import extract as ex
from anno_spark.operators import resolve as rx
from anno_spark.plans import pipeline
from anno_spark.sources.pages import synthesize_pages

N_PAGES = 80


@pytest.fixture(scope="module")
def result(spark):
    pages = synthesize_pages(spark, N_PAGES)
    return pipeline.run(spark, pages)


def oracle_docs():
    return {
        rec["url"]: rec["text"]
        for rec in (corpus.page_record(i) for i in range(N_PAGES))
    }


# --------------------------------------------------------------------------
# byte-identity: synthesized text == T1 UDF output over html


def test_text_byte_identical(spark):
    pages = synthesize_pages(spark, N_PAGES)
    recomputed = ex.html_to_text(pages).collect()
    golden = oracle_docs()
    assert len(recomputed) == N_PAGES
    for row in recomputed:
        assert row["text"] == golden[row["url"]], row["url"]


# --------------------------------------------------------------------------
# per-document parity: mentions and triples exactly equal the oracle


def test_mentions_match_oracle(result):
    got = {}
    for r in result.tables["mentions"].collect():
        got.setdefault(r["url"], []).append(
            (r["mention_idx"], r["text"], r["entity_type"], r["start"], r["end"], r["confidence"], r["pattern"], r["source"])
        )
    for url, text in oracle_docs().items():
        want = [
            (i, m.text, m.entity_type, m.start, m.end, m.confidence, m.pattern, m.source)
            for i, m in enumerate(extract_document(text).mentions)
        ]
        assert sorted(got.get(url, [])) == sorted(want), url


def test_triples_match_oracle(result):
    got = {}
    for r in result.tables["triples"].collect():
        got.setdefault(r["url"], []).append(
            (r["subj_text"], r["subj_start"], r["pred"], r["obj_text"], r["obj_start"], r["trigger_start"], r["confidence"])
        )
    total = 0
    for url, text in oracle_docs().items():
        want = [
            (t.subj_text, t.subj_start, t.pred, t.obj_text, t.obj_start, t.trigger_start, t.confidence)
            for t in extract_document(text).triples
        ]
        total += len(want)
        assert sorted(got.get(url, [])) == sorted(want), url
    assert total > 0  # corpus must actually exercise R1


def test_tracks_match_oracle(result):
    got = {}
    for r in result.tables["tracks"].collect():
        got.setdefault(r["url"], []).append(
            (r["track_id"], r["canonical_surface"], r["entity_type"], tuple(r["signal_ids"]))
        )
    for url, text in oracle_docs().items():
        want = [
            (t.track_id, t.canonical_surface, t.entity_type, tuple(t.signal_ids))
            for t in extract_document(text).tracks
        ]
        assert sorted(got.get(url, [])) == sorted(want), url


# --------------------------------------------------------------------------
# cross-document resolution parity: distributed components == oracle
# union-find clusters (compared as sets of (surface, type) key sets)


def test_cdcr_clusters_match_oracle(result):
    # oracle: mention-level union-find with LSH (same path the Spark side
    # models); reduce oracle clusters to their distinct surface keys
    docs = oracle_docs()
    refs = []
    for url, text in docs.items():
        for i, m in enumerate(extract_document(text).mentions):
            refs.append(cdcr.MentionRef(url, i, m.text, m.entity_type))
    clusters = cdcr.resolve(refs, min_similarity=0.5, require_type_match=True, use_lsh=True)
    want = {
        frozenset((refs[i].text.lower(), refs[i].entity_type) for i in members)
        for members in clusters
    }

    got_rows = result.tables["surface_components"].collect()
    by_comp = {}
    for r in got_rows:
        by_comp.setdefault(r["component_id"], set()).add((r["surface"], r["entity_type"]))
    got = {frozenset(s) for s in by_comp.values()}
    assert got == want


def test_identities_cover_all_mentions(result):
    n_mentions = result.tables["mentions"].count()
    total_in_identities = (
        result.tables["identities"].groupBy().sum("n_mentions").collect()[0][0]
    )
    assert total_in_identities == n_mentions


def test_edges_reference_existing_nodes(result):
    nodes = {r["node_id"] for r in result.tables["nodes"].collect()}
    for e in result.tables["edges"].collect():
        assert e["src_node"] in nodes and e["dst_node"] in nodes


def test_cooccurrence_matches_oracle(result):
    from anno_spark.operators.graph import cooccurrence_edges
    from anno_spark.core.relations import cooccurrence_edges as oracle_edges

    got = {}
    for r in cooccurrence_edges(result.tables["mentions"], 100).collect():
        got.setdefault(r["url"], set()).add(
            (r["text_a"], r["text_b"], r["distance"])
        )
    for url, text in oracle_docs().items():
        ments = extract_document(text).mentions
        want = {
            (ments[i].text, ments[j].text, d)
            for i, j, _, d in oracle_edges(ments, 100)
        }
        assert got.get(url, set()) == want, url


def test_negation_quantifier_columns(result):
    from anno_spark.core.annotations import detect_quantifier, is_negated

    rows = result.tables["mentions"].collect()
    texts = oracle_docs()
    assert any(r["quantifier"] is not None for r in rows)
    for r in rows[:200]:
        t = texts[r["url"]]
        assert r["negated"] == is_negated(t, r["start"])
        assert r["quantifier"] == detect_quantifier(t, r["start"])


# --------------------------------------------------------------------------
# snapshot resume


def test_resume_from_snapshots(spark, tmp_path):
    from anno_spark.plans.snapshots import SnapshotStore

    pages = synthesize_pages(spark, 20)
    store = SnapshotStore(str(tmp_path / "snap"))
    # run only the extraction stages, then "crash"
    first = pipeline.run(spark, pages, store=store, stop_after="tracks")
    assert "extracted" in first.computed_stages
    assert first.resumed_stages == []

    # resume: earlier stages must load from snapshots, not recompute
    second = pipeline.run(spark, pages, store=store)
    assert set(second.resumed_stages) >= {"extracted", "mentions", "triples", "tracks"}
    assert "identities" in second.computed_stages
    n1 = second.tables["identities"].count()

    # a third run resumes everything
    third = pipeline.run(spark, pages, store=store)
    assert third.computed_stages == []
    assert third.tables["identities"].count() == n1

    # lineage metrics: one row per data file of each commit, and per
    # stage the manifest's rows = the snapshot's rows = their sum
    import os

    metrics = spark.read.parquet(os.path.join(str(tmp_path / "snap"), "lineage_metrics"))
    assert metrics.where("rows < 0").count() == 0
    lineage = {}
    for r in metrics.collect():
        key = (r["stage"], r["snapshot_id"])
        lineage[key] = lineage.get(key, 0) + r["rows"]
    for name in pipeline.STAGES:
        info = store.committed(name)
        assert info["rows"] == store.load(spark, name).count(), name
        assert info["rows"] == lineage[(name, info["snapshot_id"])], name

    # a lost identities snapshot recomputes BOTH tables of the one
    # resolution, with the same rows
    before = {n: _rows(third.tables[n]) for n in ("surface_components", "identities")}
    store.invalidate("identities")
    fourth = pipeline.run(spark, pages, store=store, stop_after="identities")
    assert fourth.computed_stages == ["surface_components", "identities"]
    assert {n: _rows(fourth.tables[n]) for n in before} == before


def _rows(df):
    return sorted(tuple(map(str, r)) for r in df.collect())


def _group_jobs(spark, group, fn):
    """Spark job ids ``fn()`` ran inside job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("case", ["plain", "bucket_by", "empty"])
def test_commit_runs_only_its_write_and_load_runs_no_job(spark, tmp_path, case):
    """A commit of a materialized frame runs no more jobs than a plain
    parquet write of it (row counts and schema come from the footers it
    wrote, not a read-back), and a load runs none (the manifest's schema,
    not an inference job)."""
    from anno_spark.plans.snapshots import SnapshotStore

    df = spark.range(0, 300, 1, 4).selectExpr("id AS identity_id", "id % 7 AS v")
    if case == "empty":
        df = df.where("v < 0")
    df = df.localCheckpoint()
    n = df.count()
    bucket_by = (32, "identity_id") if case == "bucket_by" else None
    store = SnapshotStore(str(tmp_path / "snap"))
    tag = f"test-commit-jobs-{case}"
    plain = _group_jobs(spark, tag + "-plain", lambda: df.write.parquet(str(tmp_path / "plain")))
    commit = _group_jobs(spark, tag, lambda: store.commit("s", df, bucket_by=bucket_by))
    loaded = []
    load = _group_jobs(spark, tag + "-load", lambda: loaded.append(store.load(spark, "s")))
    assert 0 < len(commit) <= len(plain), (commit, plain)
    assert load == []

    info = store.committed("s")
    assert info["rows"] == sum(info["files"].values()) == n
    assert loaded[0].columns == df.columns
    assert loaded[0].count() == n
    if case == "empty":
        assert list(info["files"].values()) == [0]
    if case == "bucket_by":
        assert {f.split("/")[0] for f in info["files"]} == {
            f"bucket={b}" for b in range(32)
        }


@pytest.mark.parametrize("fallback", [False, True])
def test_pipeline_identities_are_resolve_mentions_identities(
    spark, tmp_path, monkeypatch, fallback
):
    """The committed identities are the read path's: resolve_mentions on
    the same pages, on the driver branch and on the distributed one."""
    from anno_spark.plans.snapshots import SnapshotStore

    if fallback:
        monkeypatch.setenv("SPARK_GRAFT_FORCE_FALLBACK", "1")
    pages = synthesize_pages(spark, 12)
    store = SnapshotStore(str(tmp_path / "snap"))
    got = pipeline.run(spark, pages, store=store, stop_after="surface_components")
    assert "identities" in got.computed_stages
    want = rx.resolve_mentions(ex.mentions_table(ex.extract_documents(pages)))[1]
    assert _rows(got.tables["identities"].select(*want.columns)) == _rows(want)


def test_snapshot_time_travel_and_rollback(spark, tmp_path):
    from anno_spark.plans.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "snap"))
    df1 = spark.range(5).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(3).selectExpr("id", "id * 10 AS v")
    s1 = store.commit("stage_a", df1)
    s2 = store.commit("stage_a", df2)
    assert [h["snapshot_id"] for h in store.history("stage_a")] == [
        s1["snapshot_id"], s2["snapshot_id"],
    ]
    # pointer reads the latest; time-travel reads the old one
    assert store.load(spark, "stage_a").count() == 3
    old = store.load(spark, "stage_a", snapshot_id=s1["snapshot_id"])
    assert old.count() == 5 and {r["v"] for r in old.collect()} == {0, 2, 4, 6, 8}
    # rollback flips the pointer; newer snapshot stays in the history
    store.rollback("stage_a", s1["snapshot_id"])
    assert store.load(spark, "stage_a").count() == 5
    assert len(store.history("stage_a")) == 2
    import pytest as _pytest

    with _pytest.raises(KeyError):
        store.rollback("stage_a", "nope")


# --------------------------------------------------------------------------
# string_similarity JVM expression == Python oracle (differential)


def test_string_similarity_expr_parity(spark):
    from anno_spark.core.similarity import string_similarity
    import pyspark.sql.functions as F

    surfaces = sorted(
        {
            m.text.lower()
            for text in oracle_docs().values()
            for m in extract_document(text).mentions
        }
    ) + ["", "apple inc", "apple", "acme corp", "the acme corp", "a b", "a b"]
    pairs = [(a, b) for a in surfaces for b in surfaces[:20]]
    df = spark.createDataFrame(pairs, "a string, b string").withColumn(
        "sim", rx.string_similarity_expr(F.col("a"), F.col("b"))
    )
    for r in df.collect():
        assert abs(r["sim"] - string_similarity(r["a"], r["b"])) < 1e-12, (r["a"], r["b"])
