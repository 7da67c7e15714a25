"""Differential for the r06 all-driver resolve fast path: on a corpus
under the DRIVER_RESOLVE_MAX_KEYS gate, resolve_mentions must produce
byte-identical (key, component) labelings and identities whether the
candidate→score→CC chain runs on the driver or distributed (gate forced
off), with and without a bucket cap, with and without (null) timestamps,
under a session time zone other than the process's, and on empty input;
that the driver branch runs only its count and collect and returns local
relations; and that a hot bucket under the key gate trips the pair-count
gate instead of the Python pair loop. Plus document minhash near-dup's
tiers (in-process or spread scoring with driver cluster assembly, the
distributed tail, the shuffled fallback) against each other, the work
of the spread scorer, and the dedup oracles on it."""

from __future__ import annotations

import datetime
import random
import zoneinfo

import pytest


# non-ASCII surfaces: accented, CJK and a supplementary-plane pair whose
# first differing characters order one way by code point (U+FF58 <
# U+1D538, as Spark's UTF-8 byte compare and Python's str compare do)
# and the other way by UTF-16 unit (0xFF58 > 0xD835)
NON_ASCII = [
    "café de flore",
    "cafe de flore",
    "東京タワー",
    "東京タワー 展望台",
    "ｘ ｆｏｏ ｂａｒ ｃｏｒｐｏｒａｔｉｏｎ",
    "𝔸 ｆｏｏ ｂａｒ ｃｏｒｐｏｒａｔｉｏｎ",
]


def _mentions(spark, ts=False):
    """``ts``: False (no warc_ts column), True (every mention stamped),
    "all_null" (every stamp null), "mixed_null" (every third null),
    "empty" (no mentions; stamped schema), "non_ascii" (stamped, plus
    the :data:`NON_ASCII` surfaces) or "session_tz" (stamped; the test
    sets a session time zone, see :func:`_other_zone`)."""
    # near-identical distinct surfaces (shared 3-gram mass → hot common
    # LSH buckets), two hot families plus containment/jaccard pairs,
    # cross-type collisions, KB-hit surfaces, and canonical tie cases
    # (same n_mentions inside one component)
    rows = [(f"https://ex.com/p{i}", f"acme corporation unit {i}", "ORG") for i in range(120)]
    rows += [(f"https://ex.com/q{i}", f"initech holdings division {i}", "ORG") for i in range(40)]
    rows += [
        ("https://ex.com/a", "Acme Corp", "ORG"),
        ("https://ex.com/b", "Acme Corporation", "ORG"),
        ("https://ex.com/c", "acme corporation unit 5", "LOC"),  # type clash
        ("https://ex.com/d", "globex", "ORG"),
        ("https://ex.com/e", "globex corporation", "ORG"),
        ("https://ex.com/f", "Angela Merkel", "PER"),  # KB hit (Q567)
        ("https://ex.com/g", "Berlin", "LOC"),  # KB hit (Q64)
    ]
    if ts == "non_ascii":
        rows += [(f"https://ex.com/n{i}", t, "ORG") for i, t in enumerate(NON_ASCII)]
    if ts is False:
        return spark.createDataFrame(
            rows, "url string, text string, entity_type string"
        )
    base = datetime.datetime(2024, 1, 1)

    def stamp(i):
        if ts == "all_null" or (ts == "mixed_null" and i % 3 == 0):
            return None
        return base + datetime.timedelta(seconds=i * 37)

    rows_ts = [(u, t, e, stamp(i)) for i, (u, t, e) in enumerate(rows) if ts != "empty"]
    return spark.createDataFrame(
        rows_ts, "url string, text string, entity_type string, warc_ts timestamp"
    )


def _other_zone():
    """A zone whose UTC offset differs from the Python process's own:
    collect() returns naive datetimes in the process's zone while Arrow
    reads naive values in ``spark.sql.session.timeZone``, so a driver
    branch that handed collected stamps back unconverted would shift
    ``first_seen`` by the difference."""
    now = datetime.datetime.now(datetime.timezone.utc)
    local = now.astimezone().utcoffset()
    return next(
        z
        for z in ("America/Los_Angeles", "Asia/Tokyo")
        if now.astimezone(zoneinfo.ZoneInfo(z)).utcoffset() != local
    )


def _ident_key(r):
    return (
        r["identity_id"],
        r["canonical_name"],
        r["entity_type"],
        r["n_mentions"],
        r["n_docs"],
        r["n_surfaces"],
        tuple(r["aliases"]),
        r["kb_id"],
        r["kb_description"],
        r["first_seen"] if "first_seen" in r.__fields__ else None,
    )


def _resolved(rx, m, cap):
    keyed, idents, _ = rx.resolve_mentions(m, max_bucket_size=cap)
    return (
        {(r["surface"], r["entity_type"], r["component_id"]) for r in keyed.collect()},
        {_ident_key(r) for r in idents.collect()},
        idents.columns,
    )


@pytest.mark.parametrize("cap", [None, 16])
@pytest.mark.parametrize(
    "ts", [False, True, "all_null", "mixed_null", "empty", "non_ascii", "session_tz"]
)
def test_driver_resolve_matches_distributed(spark, monkeypatch, request, cap, ts):
    from anno_spark.operators import resolve as rx

    if ts == "session_tz":
        conf = "spark.sql.session.timeZone"
        saved = spark.conf.get(conf)
        spark.conf.set(conf, _other_zone())
        request.addfinalizer(lambda: spark.conf.set(conf, saved))
    m = _mentions(spark, ts=ts)
    fast, fast_idents, columns = _resolved(rx, m, cap)
    assert sorted(columns) == sorted(
        ["identity_id", "canonical_name", "entity_type", "n_mentions",
         "n_docs", "n_surfaces", "aliases", "kb_id", "kb_description"]
        + ([] if ts is False else ["first_seen"])
    )

    monkeypatch.setattr(rx, "DRIVER_RESOLVE_MAX_KEYS", -1)
    slow, slow_idents, _ = _resolved(rx, m, cap)

    assert fast == slow
    assert fast_idents == slow_idents
    if ts == "empty":
        assert not fast and not fast_idents
        return
    # sanity: clustering happened and the KB join matched something
    assert len({c for (_, _, c) in fast}) < len(fast)
    assert any(k[7] == "Q567" for k in fast_idents)
    if ts == "mixed_null":  # null singletons stay null, components skip nulls
        assert {k[9] is None for k in fast_idents} == {True, False}
    if ts == "non_ascii":  # the code-point vs UTF-16 order case clustered
        assert any(set(NON_ASCII[4:]) <= set(k[6]) for k in fast_idents)


def test_driver_branch_runs_count_and_collect_into_local_relations(spark):
    """On a materialized key table the driver branch runs only the gate's
    count (AQE splits it into two jobs) and one collect of the key rows,
    with no band-hash job or checkpoint; and every Resolution frame is a
    local relation (Arrow ``LocalTableScan``), not a pickled Python RDD
    (``Scan ExistingRDD``) that each consumer re-scans."""
    from anno_spark.operators import resolve as rx

    keys = rx.surface_keys(_mentions(spark, ts=True)).localCheckpoint()
    sc = spark.sparkContext
    group = "test-driver-resolve-jobs"
    sc.setJobGroup(group, "resolve_keys, driver branch")
    try:
        res = rx.resolve_keys(keys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 3, sorted(jobs)
    for name, df in res._asdict().items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)


def test_hot_bucket_exceeds_pair_gate(spark, monkeypatch):
    """One hot LSH bucket under the key gate: the driver branch must see
    Σ C(|bucket|, 2) > DRIVER_RESOLVE_MAX_PAIRS on the band vectors it
    collected and fall through to the distributed branch without running
    its Python pair loop, with the force-fallback output."""
    from anno_spark.operators import resolve as rx

    # "a" * k for k ≥ 3 has the single 3-gram "aaa", so each of the five
    # band buckets of "aaa" holds all 700 keys
    n = 700
    assert rx.CDCR_NUM_BANDS * n * (n - 1) // 2 > rx.DRIVER_RESOLVE_MAX_PAIRS
    assert n < rx.DRIVER_RESOLVE_MAX_KEYS
    rows = [(f"https://ex.com/h{k}", "a" * k, "ORG") for k in range(3, n + 3)]
    rows += [(f"https://ex.com/p{i}", f"acme corporation unit {i}", "ORG") for i in range(60)]
    m = spark.createDataFrame(rows, "url string, text string, entity_type string")

    def pair_loop(*args):
        raise AssertionError("the Python pair loop ran on a hot bucket")

    monkeypatch.setattr(rx, "_driver_scored_pairs", pair_loop)
    gated, gated_idents, _ = _resolved(rx, m, None)
    monkeypatch.setenv("SPARK_GRAFT_FORCE_FALLBACK", "1")
    forced, forced_idents, _ = _resolved(rx, m, None)
    assert gated == forced
    assert gated_idents == forced_idents
    assert len({c for (_, _, c) in gated}) < len(gated)


def test_cdcr_oracles_match_on_distributed_branch(spark, sf_dir, duck, monkeypatch):
    """The oracled CDCR queries with every size gate forced to "too big":
    test_oracle_match checks resolve_keys' driver branch at the test
    scale, this checks its distributed branch (and the distributed CC
    loop) against the same DuckDB oracles."""
    from test_oracle_parity import test_oracle_match

    from anno_spark.plans import materialize

    monkeypatch.setenv("SPARK_GRAFT_FORCE_FALLBACK", "1")
    materialize.reset()
    try:
        for name in ("kg_identities", "kg_nodes", "kg_top_clusters", "kg_edges"):
            test_oracle_match(spark, sf_dir, duck, name)
    finally:
        materialize.reset()


def test_dedup_oracles_match_on_spread_scorer(spark, sf_dir, duck, monkeypatch):
    """The oracled minhash dedup queries with the pair-visit gate at 0:
    test_oracle_match checks the small tier's in-process scoring at the
    test scale and the forced-fallback sweep its shuffled tier; this
    checks the spread scorer, the branch larger corpora (the bench's
    sf1.0 documents) take, against the same DuckDB oracles."""
    from test_oracle_parity import test_oracle_match

    import anno_spark.operators.dedup as dd
    from anno_spark.plans import materialize

    spread = []
    scorer = dd._spread_scored

    def spy(*args, **kwargs):
        spread.append(1)
        return scorer(*args, **kwargs)

    monkeypatch.setattr(dd, "DRIVER_DEDUP_MAX_PAIR_VISITS", 0)
    monkeypatch.setattr(dd, "_spread_scored", spy)
    materialize.reset()
    try:
        for name in ("dedup_minhash", "dedup_bcubed"):
            spread.clear()
            test_oracle_match(spark, sf_dir, duck, name)
            assert spread, name
    finally:
        materialize.reset()


def _near_dup_docs(spark):
    """Near-dup families, identical-signature groups (identical texts,
    and texts that differ only in case, which lowercase to the same
    grams) and one hot bucket: 1,050 docs that differ only in a trailing
    number share most band hashes, so those buckets hold more than the
    1000-member cap and are dropped, while the bands their suffix grams
    decide keep smaller buckets."""
    rows = []
    base = "the quick brown fox jumps over the lazy dog wearing pants "
    for fam in range(12):
        for v in range(6):
            rows.append((fam * 100 + v, base + f"family {fam} variant edit {v % 2}"))
    for i in (5000, 5001, 5002):  # identical-signature group, no edge needed
        rows.append((i, "completely identical text"))
    rows += [(5100, "Case Folded Twins"), (5101, "case folded twins")]
    rows += [(9000 + i, f"unique document number {i} with distinct words {i*7}") for i in range(20)]
    hot = "a long shared boilerplate footer that every mirrored page repeats verbatim "
    rows += [(20_000 + i, hot * 3 + f"mirror {i}") for i in range(1050)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _seeded_docs(seed):
    """A seeded random corpus: 30 base texts of 12-20 words, each with
    1-4 variants that swap 0-3 words, so some variants clear the 0.8
    threshold and some do not; doc ids are drawn at random, so id order
    is not text order."""
    rng = random.Random(seed)
    vocab = [
        "river", "stone", "market", "window", "signal", "harbor", "copper",
        "garden", "lantern", "orbit", "velvet", "canyon", "ledger", "meadow",
        "piston", "quartz", "rocket", "saddle", "timber", "walnut",
    ]
    texts = []
    for _ in range(30):
        base = [rng.choice(vocab) for _ in range(rng.randint(12, 20))]
        for _ in range(rng.randint(1, 4)):
            words = list(base)
            for _ in range(rng.randint(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
    ids = rng.sample(range(1, 1_000_000), len(texts))
    return list(zip(ids, texts))


# the tier differential's corpora as (doc_id, text) rows; ``near_dup``
# is built by _near_dup_docs
_CORPORA = {
    "near_dup": None,
    "empty": [],
    "one_doc": [(7, "a lone document with nothing like it")],
    "identical": [(i, "the same mirrored page text") for i in range(40)],
    "none_texts": [(1, None), (2, None), (3, ""), (4, "short")]
    + [(10 + i, "a templated page body shared by variants, number " + "x" * i) for i in range(4)],
    "non_ascii": [(100 + i, t) for i, t in enumerate(NON_ASCII)]
    + [(200 + i, t + " " + t) for i, t in enumerate(NON_ASCII)]
    + [(300 + i, t + " " + t) for i, t in enumerate(NON_ASCII)],
    "seeded_1": _seeded_docs(1),
    "seeded_2": _seeded_docs(2),
}


@pytest.mark.parametrize("corpus", list(_CORPORA))
def test_minhash_driver_cluster_assembly_matches_distributed(spark, monkeypatch, corpus):
    """Every tier of minhash_near_duplicates gives the same (cluster_id,
    doc_id) set, and each run is checked to take its branch:

    * in-process scoring + driver cluster assembly;
    * the spread scorer + driver cluster assembly
      (``DRIVER_DEDUP_MAX_PAIR_VISITS = -1``, so corpora with no pair
      visits take it too);
    * the spread scorer + the distributed tail (edge gate forced);
    * the forced fallback: pairs and scores from the JVM band join, the
      reference the in-process scorer is held to, and the same tail.

    Corpora: near-dup families with identical-signature groups and a hot
    bucket over the cap; 0 docs; 1 doc; all docs identical; None texts
    (read as "", so they group with the empty text); non-ASCII (CJK and
    supplementary-plane) texts; two seeded random corpora."""
    import anno_spark.operators.dedup as dd

    rows = _CORPORA[corpus]
    if rows is None:
        docs = _near_dup_docs(spark)
    else:
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    ran = []

    def spy(name):
        fn = getattr(dd, name)

        def wrapped(*args, **kwargs):
            ran.append(name)
            return fn(*args, **kwargs)

        monkeypatch.setattr(dd, name, wrapped)

    for name in ("_spread_scored", "_cluster_frame", "connected_components"):
        spy(name)

    def clusters(branch):
        ran.clear()
        out = {(r["cluster_id"], r["doc_id"]) for r in dd.minhash_near_duplicates(docs).collect()}
        assert ran == branch
        return out

    in_process = clusters(["_cluster_frame"])
    monkeypatch.setattr(dd, "DRIVER_DEDUP_MAX_PAIR_VISITS", -1)
    spread = clusters(["_spread_scored", "_cluster_frame"])
    monkeypatch.setattr(dd, "DRIVER_CC_MAX_EDGES", -1)
    spread_tail = clusters(["_spread_scored", "connected_components"])
    monkeypatch.setenv("SPARK_GRAFT_FORCE_FALLBACK", "1")
    shuffled = clusters(["connected_components"])
    assert in_process == spread == spread_tail == shuffled
    by_doc = dict((d, c) for c, d in in_process)
    if corpus == "near_dup":
        assert by_doc[5000] == by_doc[5001] == by_doc[5002]
        assert by_doc[5100] == by_doc[5101]
        # the hot family still clusters through the bands under the cap
        assert sum(1 for d in by_doc if d >= 20_000) > 1
    elif corpus == "identical":
        assert len(set(by_doc.values())) == 1 and len(by_doc) == 40
    elif corpus == "none_texts":
        assert by_doc[1] == by_doc[2] == by_doc[3] and 4 not in by_doc
    elif corpus in ("empty", "one_doc"):
        assert not in_process
    else:
        assert in_process


def test_minhash_spread_tier_runs_one_collect_and_par_tasks(spark, monkeypatch):
    """With the visit gate at 0 on an eagerly checkpointed signature
    table, minhash_near_duplicates scores on the spread scorer and runs
    the gate's count, ONE collect of the signature table, the scorer's
    checkpointed edge count and the edge collect: 6 jobs at local[8]
    (AQE runs each count as two), and no groupBy over the signature
    table. The three-tier code before it ran 12 jobs on the same call: a
    driver tier that collected and indexed and then declined, a sig_id
    groupBy, a second collect and index, a band explode spread by
    round-robin, and a third collect of doc → signature. The scorer's
    MapInPandas runs exactly ``defaultParallelism`` Python tasks, one
    per equal-visit slice (counted by an accumulator)."""
    import anno_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "DRIVER_DEDUP_MAX_PAIR_VISITS", 0)
    sc = spark.sparkContext
    tasks = sc.accumulator(0)
    scorer = dd._slice_scorer

    def counted(bc, threshold):
        score = scorer(bc, threshold)

        def run(batches):
            tasks.add(1)
            yield from score(batches)

        return run

    monkeypatch.setattr(dd, "_slice_scorer", counted)
    docs = _near_dup_docs(spark)
    sigs = dd.doc_signatures_with_id(docs).localCheckpoint()
    group = "test-minhash-spread-tier-jobs"
    sc.setJobGroup(group, "minhash_near_duplicates, spread scorer")
    try:
        out = dd.minhash_near_duplicates(docs, sigs=sigs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < len(jobs) <= 6, sorted(jobs)
    assert tasks.value == sc.defaultParallelism
    store = spark._jsparkSession.sharedState().statusStore()
    executions = store.executionsList()
    sig_plans = []
    for i in range(executions.size()):
        ex = executions.apply(i)
        ex_jobs = ex.jobs().keySet().toList()
        plan = ex.physicalPlanDescription()
        if "signature" in plan and any(
            ex_jobs.apply(j) in jobs for j in range(ex_jobs.size())
        ):
            sig_plans.append(plan)
    # the gate's count (a keyless aggregate) and the one collect
    assert len([p for p in sig_plans if "HashAggregate" not in p]) == 1
    assert not [p for p in sig_plans if "Keys [" in p]
    assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() > 0


def test_minhash_driver_tier_runs_no_python_worker(spark):
    """On an eagerly checkpointed signature table the driver tier runs
    the gate's count and one collect, and no ``MapInPandas``: at most 3
    jobs. Before the driver tier existed, the small path always
    broadcast the bucket index to the fused scorer, and the same call
    ran 11 jobs, one of them over ``MapInPandas``."""
    import anno_spark.operators.dedup as dd

    docs = _near_dup_docs(spark)
    sigs = dd.doc_signatures_with_id(docs).localCheckpoint()
    sc = spark.sparkContext
    group = "test-minhash-driver-tier-jobs"
    sc.setJobGroup(group, "minhash_near_duplicates, driver tier")
    try:
        out = dd.minhash_near_duplicates(docs, sigs=sigs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < len(jobs) <= 3, sorted(jobs)
    store = spark._jsparkSession.sharedState().statusStore()
    executions = store.executionsList()
    plans = []
    for i in range(executions.size()):
        ex = executions.apply(i)
        ex_jobs = ex.jobs().keySet().toList()
        if any(ex_jobs.apply(j) in jobs for j in range(ex_jobs.size())):
            plans.append(ex.physicalPlanDescription())
    assert plans
    assert not [p for p in plans if "MapInPandas" in p]
    assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()


def test_minhash_near_duplicates_empty_input(spark):
    """0 docs: the fused small path collects empty signature matrices and
    must still build its bucket index and return no clusters."""
    import anno_spark.operators.dedup as dd

    docs = spark.createDataFrame([], "doc_id bigint, text string")
    out = dd.minhash_near_duplicates(docs)
    assert out.columns == ["cluster_id", "doc_id"]
    assert out.collect() == []
