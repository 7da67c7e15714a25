"""Differentials for the band-pair dedup paths:

* resolve.candidate_pairs' broadcast plan (band join → dropDuplicates
  with explicit broadcast hints) vs its forced-fallback shuffled plan,
  with a bucket cap that drops hot buckets and one that drops none, and
  both against the in-process pair kernel the driver branches run (that
  kernel is pinned against a brute force in tests/test_minhash_kernel.py).
* simhash_near_duplicates / binary_hash_pairs (the one Hamming blocker,
  plans/sizing.hamming_band_pairs) first-shared-band emit-once vs a
  BRUTE-FORCE all-pairs Hamming scan — at max_hamming ≤ 3
  the 4×16-bit banding is lossless (pigeonhole: ≤3 differing bits leave
  ≥1 band untouched), so banded output must EQUAL brute output exactly,
  with no duplicate (a, b) rows; a band-layout bug would silently drop
  pairs on BOTH paths and no small-vs-large comparison could see it.
"""

from __future__ import annotations

import re

import numpy as np

# the shuffled branch's dropDuplicates(["key_a", "key_b"]) aggregate
PAIR_DEDUP = re.compile(r"HashAggregate\(keys=\[key_a#\d+L?, key_b#\d+L?\]")


def _mentions(spark):
    """A mention stream of near-identical DISTINCT surfaces: the shared
    3-gram mass puts whole families into common LSH buckets (150- and
    40-member hot buckets that overflow a small cap plus ~11-member
    surviving buckets that still produce pairs)."""
    rows = [(f"https://ex.com/p{i}", f"acme corporation unit {i}", "ORG") for i in range(150)]
    rows += [(f"https://ex.com/q{i}", f"initech holdings division {i}", "ORG") for i in range(40)]
    return spark.createDataFrame(rows, "url string, text string, entity_type string")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _pairs(rx, bands, keys, cap):
    out = rx.candidate_pairs(bands, keys, max_bucket_size=cap)
    rows = out.select("key_a", "key_b").collect()
    pairs = {(r["key_a"], r["key_b"]) for r in rows}
    assert len(rows) == len(pairs), "a pair was emitted more than once"
    return pairs, _plan(out)


def _kernel_pairs(rx, keys, cap):
    """The in-process pair kernel the driver branches run
    (``core.minhash.bucket_index`` + ``bucket_pairs``) over the collected
    band-hash matrix, rows sorted by key_id so ``ia < ib`` ⇔ key_a < key_b."""
    from anno_spark.core.minhash import bucket_index, bucket_pairs

    rows = sorted(
        (r["key_id"], r["band_hashes"]) for r in rx.band_signatures(keys).collect()
    )
    kid = np.array([k for k, _ in rows], dtype=np.int64)
    bh = np.array([h for _, h in rows], dtype=np.int64)
    n, n_bands = bh.shape
    ia, ib = bucket_pairs(
        bucket_index(bh, cap),
        np.repeat(np.arange(n), n_bands),
        np.tile(np.arange(n_bands), n),
    )
    return set(zip(kid[ia].tolist(), kid[ib].tolist()))


def _broadcast_vs_forced(spark, monkeypatch, cap):
    """candidate_pairs' pair set on the broadcast plan and on the
    shuffled plan the forced-fallback sweep selects; both dedup with
    the (key_a, key_b) aggregate, only the first broadcasts. The shared
    JVM band join, cap included, must also give the in-process kernel's
    pair set."""
    from anno_spark.operators import resolve as rx

    keys = rx.surface_keys(_mentions(spark)).localCheckpoint()
    bands = rx.band_table(keys).localCheckpoint()
    small, plan = _pairs(rx, bands, keys, cap)
    assert "BroadcastHashJoin" in plan and PAIR_DEDUP.search(plan), plan
    with monkeypatch.context() as m:
        m.setenv("SPARK_GRAFT_FORCE_FALLBACK", "1")
        forced, forced_plan = _pairs(rx, bands, keys, cap)
    assert PAIR_DEDUP.search(forced_plan), forced_plan
    assert small == _kernel_pairs(rx, keys, cap)
    return small, forced


class TestResolveEmitOnceDifferential:
    def test_emit_once_matches_shuffled_dropduplicates_path(self, spark, monkeypatch):
        # cap 16 drops the 150/40-member buckets and keeps the ~11s
        small, forced = _broadcast_vs_forced(spark, monkeypatch, 16)
        assert small == forced and len(small) > 0

    def test_emit_once_survives_dropped_first_band(self, spark, monkeypatch):
        # a pair whose first shared band fell in a dropped bucket must
        # still come from a later kept one; cap 1000 drops nothing
        for cap in (16, 1000):
            small, forced = _broadcast_vs_forced(spark, monkeypatch, cap)
            assert small == forced and len(small) > 0, f"cap={cap}"


class TestLinkingDuplicateAliasInput:
    def test_duplicate_kb_rows_do_not_multiply_candidates(self, spark):
        # ADVICE r05: duplicate (alias, kb_id) KB rows used to survive the
        # broadcast emit-once filter and multiply through the alias_sigs
        # join while the shuffled fallback dropDuplicates'd them away.
        # build_kb_index now collapses on alias_id, so both paths agree.
        from anno_spark.operators import linking as lk

        kb = spark.createDataFrame(
            [("acme corporation", "Q1", "a co")] * 3
            + [("initech", "Q2", "b co")] * 2,
            "alias string, kb_id string, description string",
        )
        idx = lk.build_kb_index(spark, kb)
        assert idx["n_aliases"] == 2
        surfaces = spark.createDataFrame(
            [(1, "acme corporation", "ORG", 3), (2, "initech", "ORG", 1)],
            "key_id bigint, surface string, entity_type string, n_mentions bigint",
        )
        cands = lk.link_candidates(surfaces, idx).collect()
        pairs = {(r["key_id"], r["alias_id"]) for r in cands}
        assert len(cands) == len(pairs), "duplicate candidates emitted"


def _brute_hamming_pairs(ids, hashes, max_hamming):
    """All-pairs Hamming over signed-64 hashes, pure numpy."""
    h = np.array(hashes, dtype=np.int64).astype(np.uint64)
    out = set()
    for i in range(len(ids)):
        x = h[i] ^ h
        d = np.array([bin(int(v)).count("1") for v in x])
        for j in np.where(d <= max_hamming)[0]:
            if ids[i] < ids[j]:
                out.add((ids[i], ids[j], int(d[j])))
    return out


def _planted_hashes(rng, n=220, planted=40):
    """Random 64-bit hashes + planted near-duplicates ≤3 bit flips."""
    base = rng.randint(0, 2**63 - 1, size=n, dtype=np.int64)
    rows = [(int(i), int(v)) for i, v in enumerate(base)]
    nid = n
    for p in range(planted):
        src = int(base[p % n])
        flips = rng.choice(64, size=(p % 3) + 1, replace=False)
        v = src
        for b in flips:
            v ^= 1 << int(b)
        # back to signed
        v = v - (1 << 64) if v >= (1 << 63) else v
        rows.append((nid, int(v)))
        nid += 1
    return rows


class TestSimhashBruteDifferential:
    def test_banded_equals_brute_at_hamming_3(self, spark):
        from anno_spark.operators.dedup import SIMHASH_BANDS, simhash_near_duplicates

        rng = np.random.RandomState(7)
        rows = _planted_hashes(rng)
        mask16 = (1 << 16) - 1
        sh = spark.createDataFrame(
            [
                (i, v, [(v >> (16 * b)) & mask16 for b in range(SIMHASH_BANDS)])
                for i, v in rows
            ],
            "doc_id bigint, simhash bigint, bands array<int>",
        )
        docs = spark.createDataFrame(
            [(i, "") for i, _ in rows], "doc_id bigint, text string"
        )
        got_rows = simhash_near_duplicates(docs, max_hamming=3, sh=sh).collect()
        got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in got_rows}
        assert len(got_rows) == len(got), "duplicate (a, b) rows emitted"
        brute = _brute_hamming_pairs(
            [i for i, _ in rows], [v for _, v in rows], 3
        )
        assert got == brute and len(brute) > 0


class TestBinaryHashBruteDifferential:
    def test_banded_equals_brute_at_hamming_3(self, spark):
        from anno_spark.operators.simsearch import binary_hash_pairs, binary_hash_table

        rng = np.random.RandomState(11)
        dim = 64
        base = rng.randn(60, dim)
        vecs = list(base)
        for p in range(30):  # near-copies: flip the sign of 1-3 components
            v = base[p % len(base)].copy()
            for b in rng.choice(dim, size=(p % 3) + 1, replace=False):
                v[b] = -v[b] if v[b] != 0 else 1.0
            vecs.append(v)
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<double>",
        )
        bh_rows = binary_hash_table(emb).collect()
        got_rows = binary_hash_pairs(emb, max_hamming=3).collect()
        got = {(r["vec_a"], r["vec_b"], r["hamming"]) for r in got_rows}
        assert len(got_rows) == len(got), "duplicate (a, b) rows emitted"
        brute = _brute_hamming_pairs(
            [r["vec_id"] for r in bh_rows], [r["bhash"] for r in bh_rows], 3
        )
        assert got == brute and len(brute) > 0
