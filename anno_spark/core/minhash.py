"""X1/X2 — MinHash signatures + LSH banding (SURVEY §2.6).

Behavioral re-implementation of the reference's LSH blocker
(anno/src/eval/cdcr.rs:265-402):

* char 3-grams of the lowercased surface; whole text if < 3 chars
  (cdcr.rs:371-381)
* 15 minhash values = 5 bands × 3 rows (cdcr.rs:288-296)
* seeded FNV-1a over UTF-8 bytes:
  hash = seed + 0xcbf29ce484222325; per byte: hash ^= b; hash *= 0x100000001b3
  (wrapping u64 arithmetic, cdcr.rs:384-392)
* band hash = fold(acc * 31 + val) over the band's rows (cdcr.rs:395-402)

Values are u64; :func:`to_i64` converts to two's-complement signed for
storage in Spark ``bigint`` columns (equality-preserving).

:func:`signature_matrix` is the one signature implementation: it hashes
many texts at once (distinct grams once per pass, passes bounded in
grams) for any bands × rows geometry. Document near-dup calls it with
8 × 4, the CDCR resolver through :func:`band_hash_matrix` (5 × 3, band
hashes only); :func:`compute_signature` is its row 0 for one text.

:func:`bucket_index` + :func:`bucket_pairs` are the one in-process way
to turn a band-hash matrix into distinct candidate pairs (bucket cap
applied, each pair emitted once); :func:`scored_pairs` adds the
estimated-Jaccard score in bounded chunks. Work is cut by the pair
visits of each (row, band) entry (:func:`entry_visits`,
:func:`visit_bounds`): scored_pairs' chunks, and the equal-visit slices
of document near-dup's spread scorer. The CDCR driver branch and
document near-dup's small tier (in-process or spread scoring) use them.
"""

from __future__ import annotations

from typing import NamedTuple

_M64 = (1 << 64) - 1
_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3

NUM_BANDS = 5
ROWS_PER_BAND = 3
NGRAM_SIZE = 3


def fnv1a_seeded(data: bytes, seed: int) -> int:
    h = (seed + _FNV_OFFSET) & _M64
    for b in data:
        h ^= b
        h = (h * _FNV_PRIME) & _M64
    return h


def extract_ngrams(text: str, n: int = NGRAM_SIZE) -> list[str]:
    """cdcr.rs:371-381 — char n-gram windows; whole text if too short."""
    if len(text) < n:
        return [text]
    return [text[i : i + n] for i in range(len(text) - n + 1)]


def compute_signature(
    text: str, num_bands: int = NUM_BANDS, rows_per_band: int = ROWS_PER_BAND
) -> list[int]:
    """cdcr.rs:350-366 — minhash signature of the lowercased text (u64s):
    row 0 of :func:`signature_matrix` over ``[text]``."""
    import numpy as np

    sig, _ = signature_matrix([text], num_bands, rows_per_band)
    return sig[0].view(np.uint64).tolist()


def band_hashes(sig: list[int], num_bands: int = NUM_BANDS, rows_per_band: int = ROWS_PER_BAND) -> list[int]:
    """cdcr.rs:395-402 — one fold hash per band (u64s)."""
    out = []
    for band in range(num_bands):
        start = band * rows_per_band
        end = min(start + rows_per_band, len(sig))
        acc = 0
        for v in sig[start:end]:
            acc = (acc * 31 + v) & _M64
        out.append(acc)
    return out


# Gram bound of one kernel pass of signature_matrix: its hash matrix and
# per-row gathers grow with the grams of a pass, so a batch of long pages
# is hashed in passes of at most this many grams (a text with more is
# split across passes; its row is the min over them). A pass holds ~600
# page texts of ~270 chars (~220 distinct grams each) or ~8k resolve keys.
SIGNATURE_PASS_GRAMS = 1 << 17


def _pass_minima(gram_id: dict, flat: list, starts: list, total: int):
    """One kernel pass: FNV-1a of every distinct gram in ``gram_id``
    under the ``total`` seeds, one vectorized step per byte position,
    then ``np.minimum.reduceat`` over each segment of ``flat`` (gram ids,
    segments starting at ``starts``) → (total, segments) uint64."""
    import numpy as np

    encoded = [g.encode("utf-8") for g in gram_id]
    lens = np.fromiter(map(len, encoded), dtype=np.int64, count=len(encoded))
    # zero byte appended so padded positions index inside the buffer
    buf = np.frombuffer(b"".join(encoded) + b"\0", dtype=np.uint8)
    width = int(lens.max())
    pos = np.arange(width)
    live = pos < lens[:, None]
    offs = np.cumsum(lens) - lens
    byte = np.where(live, buf[np.minimum(offs[:, None] + pos, len(buf) - 1)], 0)
    byte = byte.astype(np.uint64)
    # (signature row, gram) layout: each row's gather below is one
    # contiguous (pass grams,) copy, never a (pass grams × total) one
    h = np.repeat(
        (np.arange(total, dtype=np.uint64) + np.uint64(_FNV_OFFSET))[:, None],
        len(encoded),
        axis=1,
    )
    prime = np.uint64(_FNV_PRIME)
    for p in range(width):
        h = np.where(live[:, p], (h ^ byte[:, p]) * prime, h)
    flat = np.asarray(flat, dtype=np.int64)
    return np.stack([np.minimum.reduceat(row[flat], starts) for row in h])


def signature_matrix(
    texts, num_bands: int = NUM_BANDS, rows_per_band: int = ROWS_PER_BAND
):
    """Minhash signatures and band hashes of many texts at once →
    ``(sig, bands)``, (n, num_bands·rows_per_band) and (n, num_bands)
    int64, row i bit-identical to ``to_i64`` of the reference per-row
    min of ``fnv1a_seeded`` over the distinct grams of ``texts[i]``
    lowercased and its ``band_hashes`` (None reads as ""). Distinct
    grams are hashed once per pass, one numpy step per byte position;
    the band fold is the wrapping ``acc * 31 + v`` in uint64 (numpy
    arrays wrap like the reference's ``& _M64``). Passes hold at most
    ``SIGNATURE_PASS_GRAMS`` grams, so memory is bounded per pass, not
    per batch."""
    import numpy as np

    total = num_bands * rows_per_band
    cap = SIGNATURE_PASS_GRAMS
    passes, owner = [], []
    gram_id: dict[str, int] = {}
    flat: list[int] = []
    starts: list[int] = []
    for i, s in enumerate(texts):
        # every text has ≥ 1 gram ("" hashes the empty byte string), so
        # no reduceat segment is empty
        grams = set(extract_ngrams((s or "").lower()))
        if len(grams) > cap:
            grams = list(grams)
            segments = [grams[lo : lo + cap] for lo in range(0, len(grams), cap)]
        else:
            segments = (grams,)
        for seg in segments:
            if starts and len(flat) + len(seg) > cap:
                passes.append(_pass_minima(gram_id, flat, starts, total))
                gram_id, flat, starts = {}, [], []
            starts.append(len(flat))
            owner.append(i)
            flat.extend(gram_id.setdefault(g, len(gram_id)) for g in seg)
    if not owner:
        z = np.zeros((0, total), dtype=np.int64)
        return z, z[:, :num_bands]
    passes.append(_pass_minima(gram_id, flat, starts, total))
    # a split text's row is the min over its segments
    owner = np.asarray(owner)
    first = np.flatnonzero(np.r_[True, owner[1:] != owner[:-1]])
    sig = np.minimum.reduceat(np.concatenate(passes, axis=1), first, axis=1)
    acc = np.zeros((num_bands, sig.shape[1]), dtype=np.uint64)
    for r in range(rows_per_band):
        acc = acc * np.uint64(31) + sig[r::rows_per_band]
    return (
        np.ascontiguousarray(sig.T).view(np.int64),
        np.ascontiguousarray(acc.T).view(np.int64),
    )


def band_hash_matrix(surfaces):
    """Band hashes of many texts at once → (n, NUM_BANDS) int64: the CDCR
    geometry of :func:`signature_matrix`."""
    return signature_matrix(surfaces)[1]


def signature_similarity(sig1: list[int], sig2: list[int]) -> float:
    """cdcr.rs:404-414 — fraction of agreeing rows."""
    if len(sig1) != len(sig2) or not sig1:
        return 0.0
    return sum(1 for a, b in zip(sig1, sig2) if a == b) / len(sig1)


def to_i64(v: int) -> int:
    """u64 → signed 64-bit (two's complement) for Spark bigint columns."""
    return v - (1 << 64) if v >= (1 << 63) else v


# --------------------------------------------------------------------------
# LSH bucket index + emit-once pair expansion (the in-process pair kernel)


class BucketIndex(NamedTuple):
    """Buckets of a band-hash matrix, per band: ``flat`` holds the member
    row indices of every KEPT bucket (ascending within a bucket,
    buckets concatenated), ``boff``/``blen`` slice one bucket out of it,
    and ``bucket_of``/``rank_of`` (n × n_bands) give each row's bucket
    ordinal and position per band — ordinal -1 where the row's bucket
    was dropped by the cap."""

    flat: object
    boff: object
    blen: object
    bucket_of: object
    rank_of: object

    def pair_visits(self) -> int:
        """Σ C(|bucket|, 2) over kept buckets: the pairs a full expansion
        visits before emit-once removes the band duplicates."""
        return int((self.blen * (self.blen - 1) // 2).sum())


def bucket_index(bh, cap: int | None = None) -> BucketIndex:
    """(n × n_bands) int64 band-hash matrix → :class:`BucketIndex`.

    A bucket is a run of equal hashes in one band's column. Runs longer
    than ``cap`` are dropped (the stop-surface cap: such a bucket only
    ever yields blocking noise); ``cap=None`` keeps every run. The
    stable sort keeps members in row order, so ``rank_of`` + 1 slices
    a row's strictly-greater bucket partners directly."""
    import numpy as np

    n, n_bands = bh.shape
    bucket_of = np.full((n, n_bands), -1, dtype=np.int64)
    rank_of = np.zeros((n, n_bands), dtype=np.int64)
    flats, boffs, blens = [], [], []
    off = n_buckets = 0
    for b in range(n_bands):
        order = np.argsort(bh[:, b], kind="stable")
        hashes = bh[order, b]
        is_start = np.ones(n, dtype=bool)
        is_start[1:] = hashes[1:] != hashes[:-1]
        run_start = np.flatnonzero(is_start)
        run_len = np.diff(np.append(run_start, n))
        run_id = np.cumsum(is_start) - 1
        rank = np.arange(n) - run_start[run_id]
        if cap is not None:
            kept = run_len <= cap
            member = kept[run_id]
            order, rank = order[member], rank[member]
            run_id = (np.cumsum(kept) - 1)[run_id[member]]
            run_len = run_len[kept]
        flats.append(order)
        boffs.append(off + np.cumsum(run_len) - run_len)
        blens.append(run_len)
        bucket_of[order, b] = n_buckets + run_id
        rank_of[order, b] = rank
        n_buckets += len(run_len)
        off += len(order)
    return BucketIndex(
        np.concatenate(flats),
        np.concatenate(boffs),
        np.concatenate(blens),
        bucket_of,
        rank_of,
    )


def band_entries(lo: int, hi: int, n_bands: int):
    """Entries ``lo`` .. ``hi`` - 1 of the row-major (row, band) grid →
    ``(ii, band)`` arrays; ``band_entries(0, n * n_bands, n_bands)`` is
    every band of every row."""
    import numpy as np

    j = np.arange(lo, hi, dtype=np.int64)
    return j // n_bands, j % n_bands


def entry_visits(index: BucketIndex, ii, band):
    """Pair visits of each (row ``ii[j]``, band ``band[j]``) entry of
    :func:`bucket_pairs`: its strictly-greater partners in its kept
    bucket, 0 where the cap dropped the bucket. Over every entry of the
    index they sum to :meth:`BucketIndex.pair_visits`."""
    import numpy as np

    _, _, blen, bucket_of, rank_of = index
    ord_ = bucket_of[ii, band]
    visits = np.zeros(len(ii), dtype=np.int64)
    ok = ord_ >= 0
    visits[ok] = blen[ord_[ok]] - rank_of[ii[ok], band[ok]] - 1
    return visits


def visit_bounds(visits, step: int):
    """Entry bounds ``[0, ..., len(visits)]`` that cut consecutive
    entries into slices of about ``step`` pair visits each (an entry is
    never split, so one hot entry may make its slice longer)."""
    import numpy as np

    cum = np.cumsum(visits)
    total = int(cum[-1]) if len(cum) else 0
    cuts = np.searchsorted(cum, np.arange(step, total, step), side="right")
    return np.r_[0, cuts, len(visits)]


def bucket_pairs(index: BucketIndex, ii, band):
    """Emit-once pair expansion: each (row ``ii[j]``, band ``band[j]``)
    expands to its strictly-greater partners in that row's kept bucket,
    and a pair survives only from its FIRST shared kept band → ``(ia,
    ib)`` row-index arrays, ``ia < ib``, every pair once. Over all rows
    × bands this is exactly the distinct pairs sharing ≥ 1 kept bucket."""
    import numpy as np

    flat, boff, blen, bucket_of, rank_of = index
    ord_ = bucket_of[ii, band]
    ok = ord_ >= 0
    ii, band, ord_ = ii[ok], band[ok], ord_[ok]
    start = boff[ord_] + rank_of[ii, band] + 1
    counts = boff[ord_] + blen[ord_] - start
    total = int(counts.sum())
    cum = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=cum[1:])
    k = (
        np.arange(total, dtype=np.int64)
        - np.repeat(cum[:-1], counts)
        + np.repeat(start, counts)
    )
    ia = np.repeat(ii, counts)
    ib = flat[k]
    # same bucket ordinal ⇔ same hash in that band and the bucket kept
    oa = bucket_of[ia]
    shared = (oa == bucket_of[ib]) & (oa >= 0)
    keep = shared.argmax(axis=1) == np.repeat(band, counts)
    return ia[keep], ib[keep]


# Pair visits per bucket_pairs call in scored_pairs: its transients are
# ~150 B per visit at 8 bands (the (visits × bands) bucket-ordinal
# gathers of the emit-once test), so ~2.5 MB per chunk whatever the
# bucket sizes. Cache-sized chunks also ran fastest: 3.76M visits of
# the benchmark's page texts scored in 0.6 s at 2^13-2^14 visits per
# chunk, 0.9 s at 2^16-2^20 (one core).
SCORE_CHUNK_VISITS = 1 << 14


def scored_pairs(index: BucketIndex, sig, ii, band, threshold: float | None):
    """Emit-once pairs of the (row ``ii[j]``, band ``band[j]``) entries
    (:func:`bucket_pairs`) scored by estimated Jaccard = the fraction of
    agreeing columns of ``sig`` (n × signature length) → ``(ia, ib,
    est)``; ``threshold`` None keeps every pair. The entries are
    expanded in chunks of ≤ ``SCORE_CHUNK_VISITS`` pair visits, and
    agreement is counted one signature column at a time, so no
    (pairs × signature length) gather exists. A Fortran-ordered ``sig``
    makes each column gather contiguous."""
    import numpy as np

    bounds = visit_bounds(entry_visits(index, ii, band), SCORE_CHUNK_VISITS)
    sig_len = sig.shape[1]
    out_a, out_b, out_est = [], [], []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        if lo == hi:
            continue
        ia, ib = bucket_pairs(index, ii[lo:hi], band[lo:hi])
        agree = np.zeros(len(ia), dtype=np.int64)
        for c in range(sig_len):
            col = sig[:, c]
            agree += col[ia] == col[ib]
        est = agree / float(sig_len)
        if threshold is not None:
            good = est >= threshold
            ia, ib, est = ia[good], ib[good], est[good]
        out_a.append(ia)
        out_b.append(ib)
        out_est.append(est)
    if not out_a:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty, np.zeros(0)
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_est)
