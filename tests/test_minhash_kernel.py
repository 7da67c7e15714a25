"""The in-process LSH pair kernel (core.minhash.bucket_index +
bucket_pairs) against an all-pairs brute force: a pair is a candidate
iff the two rows share at least one KEPT bucket (same hash in some band
whose bucket holds ≤ cap rows), and the kernel emits each such pair
exactly once. Plus the batched signature kernel (signature_matrix, and
band_hash_matrix, its CDCR geometry) against a plain per-text
reference: the per-row min of fnv1a_seeded over the distinct grams."""

from __future__ import annotations

import itertools
import random

import numpy as np
import pytest

import anno_spark.core.minhash as mh
from anno_spark.core.minhash import (
    band_entries,
    band_hash_matrix,
    band_hashes,
    bucket_index,
    bucket_pairs,
    compute_signature,
    entry_visits,
    scored_pairs,
    extract_ngrams,
    fnv1a_seeded,
    signature_matrix,
    to_i64,
    visit_bounds,
)


def _ref_signature(text, num_bands=mh.NUM_BANDS, rows_per_band=mh.ROWS_PER_BAND):
    """Row r = min over the distinct grams of the lowercased text of
    fnv1a_seeded(gram, seed=r); None reads as ""."""
    grams = {g.encode("utf-8") for g in extract_ngrams((text or "").lower())}
    return [
        min(fnv1a_seeded(g, r) for g in grams)
        for r in range(num_bands * rows_per_band)
    ]


def _brute(bh, cap):
    n, n_bands = bh.shape
    out = set()
    for a, b in itertools.combinations(range(n), 2):
        for band in range(n_bands):
            size = int((bh[:, band] == bh[a, band]).sum())
            if bh[a, band] == bh[b, band] and (cap is None or size <= cap):
                out.add((a, b))
                break
    return out


def _kernel(bh, cap):
    n, n_bands = bh.shape
    index = bucket_index(bh, cap)
    ia, ib = bucket_pairs(
        index, np.repeat(np.arange(n), n_bands), np.tile(np.arange(n_bands), n)
    )
    got = list(zip(ia.tolist(), ib.tolist()))
    assert len(got) == len(set(got)), "a pair was emitted more than once"
    assert all(a < b for a, b in got)
    return set(got), index


def _seeded(seed, n, n_bands, n_values):
    rng = np.random.default_rng(seed)
    return rng.integers(0, n_values, size=(n, n_bands)).astype(np.int64)


def _hot_bucket():
    # rows 0-9 share band 0's hash (a 10-member bucket); rows 0/1 and
    # 2/3 also pair through band 2
    bh = np.arange(12 * 3, dtype=np.int64).reshape(12, 3) * 7
    bh[:10, 0] = -5
    bh[1, 2] = bh[0, 2]
    bh[3, 2] = bh[2, 2]
    return bh


def _dropped_first_band():
    # rows 0 and 1 share band 0 (inside a 6-member bucket) and band 3
    # (a 2-member bucket): at cap 3 the pair survives from band 3 only
    bh = np.arange(8 * 4, dtype=np.int64).reshape(8, 4)
    bh[:6, 0] = 99
    bh[1, 3] = bh[0, 3]
    return bh


CASES = {
    "empty": (np.zeros((0, 5), dtype=np.int64), 3),
    "singletons": (np.arange(40, dtype=np.int64).reshape(8, 5), 3),
    "hot_bucket_over_cap": (_hot_bucket(), 4),
    "dropped_first_band": (_dropped_first_band(), 3),
    "uncapped": (_seeded(1, 60, 5, 6), None),
    "random_capped": (_seeded(2, 60, 5, 6), 12),
    "random_wide": (_seeded(3, 200, 8, 40), 7),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_bucket_pairs_match_brute_force(case):
    bh, cap = CASES[case]
    got, index = _kernel(bh, cap)
    assert got == _brute(bh, cap)
    # the pair gate counts every kept bucket's pairs, duplicates included
    sizes = [
        int((bh[:, band] == h).sum())
        for band in range(bh.shape[1])
        for h in np.unique(bh[:, band])
    ]
    kept = [s for s in sizes if cap is None or s <= cap]
    assert index.pair_visits() == sum(s * (s - 1) // 2 for s in kept)
    if case == "hot_bucket_over_cap":
        assert got == {(0, 1), (2, 3)}
        assert (index.bucket_of[:10, 0] == -1).all()
    if case == "dropped_first_band":
        assert (0, 1) in got and (0, 2) not in got
    if case in ("empty", "singletons"):
        assert got == set()


def test_bucket_pairs_on_a_subset_of_rows():
    # the fused dedup scorer expands any (row, band) batch: the union
    # over disjoint batches is the full pair set, still each pair once
    bh = _seeded(4, 80, 5, 5)
    full, index = _kernel(bh, 20)
    ii = np.repeat(np.arange(80), 5)
    band = np.tile(np.arange(5), 80)
    order = np.random.default_rng(0).permutation(len(ii))
    got = []
    for part in np.array_split(order, 7):
        ia, ib = bucket_pairs(index, ii[part], band[part])
        got += list(zip(ia.tolist(), ib.tolist()))
    assert len(got) == len(set(got)) and set(got) == full


@pytest.mark.parametrize("chunk", [1, 7, 1 << 14])
@pytest.mark.parametrize("threshold", [None, 0.5])
def test_scored_pairs_match_brute_force(monkeypatch, chunk, threshold):
    """Every pair sharing a kept bucket, once, with est = fraction of
    equal signature columns, whatever the chunking of the expansion (1
    and 7 visits per chunk split single buckets' entries across chunks),
    on a C- and a Fortran-ordered signature matrix."""
    monkeypatch.setattr(mh, "SCORE_CHUNK_VISITS", chunk)
    rng = np.random.default_rng(5)
    sig = rng.integers(0, 3, size=(70, 12)).astype(np.int64)
    bh = sig[:, ::3] * 9 + sig[:, 1::3] * 3 + sig[:, 2::3]  # 4 bands × 3 rows
    cap = 15
    want = {
        (a, b): float((sig[a] == sig[b]).mean())
        for a, b in _brute(bh, cap)
        if threshold is None or (sig[a] == sig[b]).mean() >= threshold
    }
    index = bucket_index(bh, cap)
    ii, band = np.repeat(np.arange(70), 4), np.tile(np.arange(4), 70)
    for layout in (sig, np.asfortranarray(sig)):
        ia, ib, est = scored_pairs(index, layout, ii, band, threshold)
        got = list(zip(ia.tolist(), ib.tolist()))
        assert len(got) == len(set(got))
        assert dict(zip(got, est.tolist())) == want
    assert want and (threshold is None or len(want) < len(_brute(bh, cap)))
    empty = scored_pairs(index, sig, ii[:0], band[:0], threshold)
    assert [len(x) for x in empty] == [0, 0, 0]


@pytest.mark.parametrize("n_slices", [1, 3, 8, 64])
def test_visit_slices_partition_the_pairs(n_slices):
    """Entry visits sum to the index's pair visits, and equal-visit
    slices of the (row, band) grid (the spread scorer's cut) expand to
    disjoint pair sets whose union is the whole expansion: no pair is
    lost or emitted twice at a slice boundary. Slices hold about
    total / n_slices visits, give or take one entry."""
    bh = np.vstack([_hot_bucket(), _seeded(3, 60, 3, 5)])
    index = bucket_index(bh, 11)
    n, n_bands = bh.shape
    visits = entry_visits(index, *band_entries(0, n * n_bands, n_bands))
    total = int(visits.sum())
    assert total == index.pair_visits() > 0
    step = -(-total // n_slices)
    bounds = visit_bounds(visits, step)
    assert bounds[0] == 0 and bounds[-1] == n * n_bands
    assert len(bounds) - 1 <= n_slices and (np.diff(bounds) >= 0).all()
    seen = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        assert visits[lo:hi].sum() <= step + visits.max()
        ia, ib = bucket_pairs(index, *band_entries(lo, hi, n_bands))
        seen += list(zip(ia.tolist(), ib.tolist()))
    assert len(seen) == len(set(seen))
    assert set(seen) == _brute(bh, 11)
    assert list(visit_bounds(visits[:0], step)) == [0, 0]


def test_band_hash_matrix_matches_reference():
    """Bit-identical to to_i64(band_hashes(reference signature)) per
    text: empty and 1-2 char texts (hashed whole), upper case (the
    reference lowercases), None (read as ""), CJK, supplementary-plane
    and full-width characters (multi-byte UTF-8 grams of different
    widths in one batch), repeated grams, and a seeded random set with
    duplicate texts."""
    rng = random.Random(20)
    alphabet = "ab cd éü東京タワー𝔸ｘ"
    surfaces = [
        "", "a", "ab", "abc", "AbC", None, "東", "東京", "𝔸", "𝔸ｘ", "ｘ𝔸東",
        "aaaa", "aaaaaaa", "İstanbul", "acme corporation unit 5",
    ] + ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24))) for _ in range(3000)]
    ref = np.array(
        [[to_i64(b) for b in band_hashes(_ref_signature(s))] for s in surfaces],
        dtype=np.int64,
    )
    got = band_hash_matrix(surfaces)
    assert got.dtype == np.int64
    np.testing.assert_array_equal(got, ref)
    assert band_hash_matrix([]).shape == (0, ref.shape[1])


def _doc_texts():
    from anno_spark.corpus import page_record

    rng = random.Random(7)
    ids = rng.sample(range(200_000), 300)
    return [page_record(i)["text"] for i in ids] + [
        "", None, "a", "Ab", "東京", "東", "𝔸", "𝔸ｘ", "ｘ𝔸東タワー",
        "İstanbul ÉTÉ ÉTÉ", "𝔸𝔸𝔸𝔸 𝔸𝔸𝔸𝔸 𝔸𝔸𝔸𝔸",
    ]


def _check_doc_geometry(texts):
    ref_sig = [_ref_signature(t, 8, 4) for t in texts]
    sig, bands = signature_matrix(texts, 8, 4)
    assert sig.dtype == bands.dtype == np.int64
    assert sig.shape == (len(texts), 32) and bands.shape == (len(texts), 8)
    np.testing.assert_array_equal(
        sig, np.array([[to_i64(v) for v in r] for r in ref_sig], dtype=np.int64).reshape(-1, 32)
    )
    np.testing.assert_array_equal(
        bands,
        np.array(
            [[to_i64(b) for b in band_hashes(r, 8, 4)] for r in ref_sig], dtype=np.int64
        ).reshape(-1, 8),
    )


def test_signature_matrix_document_geometry_matches_reference():
    """The document near-dup geometry (8 bands × 4 rows) on seeded
    corpus page texts plus empty, None, 1-2 char, CJK and
    supplementary-plane texts: both the signature and the band hashes;
    and 0 texts keep both shapes."""
    _check_doc_geometry(_doc_texts())
    sig, bands = signature_matrix([], 8, 4)
    assert sig.shape == (0, 32) and bands.shape == (0, 8)


def test_signature_matrix_splits_passes(monkeypatch):
    """With the per-pass gram bound lowered, one batch is hashed in many
    passes, and the longest page text alone holds more distinct grams
    than a pass, so its row is the min over several passes; the output
    is unchanged."""
    texts = _doc_texts()
    longest = max(len(set(extract_ngrams((t or "").lower()))) for t in texts)
    monkeypatch.setattr(mh, "SIGNATURE_PASS_GRAMS", 97)
    assert longest > 2 * mh.SIGNATURE_PASS_GRAMS
    _check_doc_geometry(texts)


def test_compute_signature_is_row_zero_of_the_kernel():
    for text in ("", "ab", "Acme Corp", "東京タワー"):
        assert compute_signature(text) == _ref_signature(text)
        assert compute_signature(text, 8, 4) == _ref_signature(text, 8, 4)
