"""Differential tests for connected_components: the driver union-find
fast path (≤ DRIVER_CC_MAX_EDGES) and the distributed min-label loop
must produce identical (key_id, component_id) sets on the same graph,
and component_id must equal the min reachable key either way."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from anno_spark.operators import resolve as rx
from anno_spark.operators.resolve import connected_components


def _cc_reference(n_nodes, edges):
    """Pure-Python BFS reference: min reachable node per component."""
    adj = {i: set() for i in range(n_nodes)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    comp = {}
    for start in range(n_nodes):
        if start in comp:
            continue
        seen, stack = {start}, [start]
        while stack:
            x = stack.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        label = min(seen)
        for x in seen:
            comp[x] = label
    return {(k, v) for k, v in comp.items()}


def _spark_cc(spark, n_nodes, edges):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "key_id bigint")
    if edges:
        edf = spark.createDataFrame(edges, "key_a bigint, key_b bigint")
    else:
        edf = spark.createDataFrame([], "key_a bigint, key_b bigint")
    out = connected_components(nodes, edf)
    return {(r["key_id"], r["component_id"]) for r in out.collect()}


def _record_rounds(monkeypatch):
    """Wrap the loop's per-round checkpoint: returns the list that
    collects each round's executed plan (empty when the driver path
    ran)."""
    plans = []
    real = rx.iter_checkpoint

    def recording(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df)

    monkeypatch.setattr(rx, "iter_checkpoint", recording)
    return plans


def _loop_cc(spark, monkeypatch, n_nodes, edges):
    """The distributed loop, selected the way the forced-fallback sweep
    selects it (``SPARK_GRAFT_FORCE_FALLBACK``); fails if the driver
    path ran instead."""
    with monkeypatch.context() as m:
        m.setenv("SPARK_GRAFT_FORCE_FALLBACK", "1")
        rounds = _record_rounds(m)
        got = _spark_cc(spark, n_nodes, edges)
    assert rounds, "the driver path ran, not the distributed loop"
    return got


class TestConnectedComponents:
    def _random_graph(self, seed, n=60, m=45):
        rng = random.Random(seed)
        edges = set()
        while len(edges) < m:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        return n, sorted(edges)

    def test_driver_path_matches_reference(self, spark):
        n, edges = self._random_graph(7)
        want = _cc_reference(n, edges)
        assert _spark_cc(spark, n, edges) == want

    def test_distributed_path_matches_driver_path(self, spark, monkeypatch):
        for seed in (1, 2, 3):
            n, edges = self._random_graph(seed)
            via_driver = _spark_cc(spark, n, edges)
            via_loop = _loop_cc(spark, monkeypatch, n, edges)
            assert via_driver == via_loop == _cc_reference(n, edges), seed

    def test_distributed_path_long_chain(self, spark, monkeypatch):
        # path graph: worst case for label propagation (diameter = n-1)
        n = 40
        edges = [(i, i + 1) for i in range(n - 1)]
        got = _loop_cc(spark, monkeypatch, n, edges)
        assert got == {(i, 0) for i in range(n)}

    def test_distributed_path_shuffled_long_chain(self, spark, monkeypatch):
        """A path whose ids are shuffled: pointer jumping shortens it
        little (45 rounds here), so the loop must run until no label
        changes rather than stop at a fixed round count."""
        n = 100
        order = list(range(n))
        random.Random(0).shuffle(order)
        edges = [
            (min(a, b), max(a, b)) for a, b in zip(order, order[1:])
        ]
        assert _loop_cc(spark, monkeypatch, n, edges) == _cc_reference(n, edges)

    def test_empty_edges_all_singletons(self, spark):
        got = _spark_cc(spark, 5, [])
        assert got == {(i, i) for i in range(5)}

    def test_gate_boundary_forces_distributed(self, spark, monkeypatch):
        # an edge cap of 0 with nonzero edges must take the loop
        monkeypatch.setattr(rx, "DRIVER_CC_MAX_EDGES", 0)
        rounds = _record_rounds(monkeypatch)
        got = _spark_cc(spark, 4, [(0, 1), (2, 3)])
        assert rounds, "the driver path ran, not the distributed loop"
        assert got == {(0, 0), (1, 0), (2, 2), (3, 2)}

    def test_duplicate_edges_change_nothing_either_path(self, spark, monkeypatch):
        """The symmetrized edge table is NOT deduped (in-repo producers
        emit distinct a<b pairs, so the exchange was waste); an outside
        caller passing duplicate or bidirectional edges must still get
        identical components on both paths — every consumer of the edge
        table is a min-aggregation."""
        n, edges = self._random_graph(11)
        noisy = edges + edges[::2] + [(b, a) for a, b in edges[1::2]]
        want = _cc_reference(n, edges)
        assert _spark_cc(spark, n, noisy) == want
        assert _loop_cc(spark, monkeypatch, n, noisy) == want

    def test_distributed_path_has_no_edge_dedup_exchange(self, spark, monkeypatch):
        """Plan gate on every propagation round: no hash exchange on
        (src, dst) pair identity — the only hash exchanges are the
        groupBy/join keys (key_id- or src-partitioned,
        node-proportional). The returned labels are a checkpoint scan,
        so the rounds' own plans are the ones inspected."""
        import re

        nodes = spark.range(100).select(F.col("id").alias("key_id"))
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(99)], "key_a bigint, key_b bigint"
        )
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_FORCE_FALLBACK", "1")
            rounds = _record_rounds(m)
            connected_components(nodes, edges).collect()
        assert rounds, "the driver path ran, not the distributed loop"
        exchanges = [
            keys
            for plan in rounds
            for keys in re.findall(r"Exchange hashpartitioning\(([^)]+)\)", plan)
        ]
        assert exchanges, "no round planned a hash exchange"
        for keys in exchanges:
            cols = [c.strip().split("#")[0] for c in keys.split(",")[:-1]]
            assert len(cols) == 1, keys  # never (src, dst) pair identity
