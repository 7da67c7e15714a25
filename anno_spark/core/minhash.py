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

:func:`band_hash_matrix` is the batched form of ``compute_signature`` →
``band_hashes`` → ``to_i64`` over many texts; both branches of the CDCR
resolver hash their keys with it, and the per-text functions stay the
reference it is tested against (and the document near-dup path's form).

:func:`bucket_index` + :func:`bucket_pairs` are the one in-process way
to turn a band-hash matrix into distinct candidate pairs (bucket cap
applied, each pair emitted once); the CDCR driver branch and the
document near-dup small path both use them.
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


# gram → hash-vector cache: n-grams repeat massively across documents, so
# memoizing the per-gram FNV vector (as a numpy uint64 row) turns the
# signature cost from O(len·rows) hashing into dict lookups plus one
# vectorized column-min. Purely an evaluation cache — results are
# bit-identical with or without it (verified by the unit suite).
# Bounded LRU (ADVICE r01): long-lived python workers over a diverse
# corpus would otherwise grow an unevictable multi-hundred-MB dict. 64k
# entries (~20 MB) covers the surface-key use case (short repeated keys)
# where the cache actually pays; doc-granularity grams mostly miss anyway.
_GRAM_CACHE: dict = {}
_GRAM_CACHE_MAX = 65_536


def _gram_hashes(gram: str, total: int):
    import numpy as np

    key = (gram, total)
    hit = _GRAM_CACHE.get(key)
    if hit is None:
        gb = gram.encode("utf-8")
        hit = np.array([fnv1a_seeded(gb, h) for h in range(total)], dtype=np.uint64)
        if len(_GRAM_CACHE) >= _GRAM_CACHE_MAX:
            # evict oldest insertion (dicts preserve insertion order) —
            # cheap FIFO approximation of LRU, O(1), no extra structure
            _GRAM_CACHE.pop(next(iter(_GRAM_CACHE)))
        _GRAM_CACHE[key] = hit
    return hit


def compute_signature(
    text: str, num_bands: int = NUM_BANDS, rows_per_band: int = ROWS_PER_BAND
) -> list[int]:
    """cdcr.rs:350-366 — minhash signature of the lowercased text (u64s).

    Duplicate grams are collapsed first (min over duplicates == min over
    the set); per-gram hash vectors are memoized and the row-min is one
    numpy reduction.
    """
    import numpy as np

    normalized = text.lower()
    total = num_bands * rows_per_band
    grams = set(extract_ngrams(normalized))
    if not grams:
        return [_M64] * total
    stacked = np.stack([_gram_hashes(g, total) for g in grams])
    return [int(v) for v in stacked.min(axis=0)]


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


def band_hash_matrix(surfaces):
    """Band hashes of many texts at once → (n, NUM_BANDS) int64, row i
    bit-identical to ``to_i64(band_hashes(compute_signature(surfaces[i])))``
    (None reads as ""). The batched form of that reference: FNV-1a over
    the DISTINCT grams of the whole batch, one vectorized step per byte
    position, then ``np.minimum.reduceat`` per text and the wrapping
    ``acc * 31 + v`` band fold, in uint64 (numpy arrays wrap like the
    reference's ``& _M64``)."""
    import numpy as np

    total = NUM_BANDS * ROWS_PER_BAND
    gram_id: dict[str, int] = {}
    flat, starts = [], []
    for s in surfaces:
        starts.append(len(flat))
        # every text has ≥ 1 gram ("" hashes the empty byte string), so
        # no reduceat segment below is empty
        flat.extend(
            gram_id.setdefault(g, len(gram_id))
            for g in set(extract_ngrams((s or "").lower()))
        )
    if not starts:
        return np.zeros((0, NUM_BANDS), dtype=np.int64)
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
    # contiguous (total grams,) copy, never a (total grams × 15) one,
    # which would be ~70 MB for a 16k-key Arrow batch
    h = np.repeat(
        (np.arange(total, dtype=np.uint64) + np.uint64(_FNV_OFFSET))[:, None],
        len(encoded),
        axis=1,
    )
    prime = np.uint64(_FNV_PRIME)
    for p in range(width):
        h = np.where(live[:, p], (h ^ byte[:, p]) * prime, h)
    flat = np.asarray(flat, dtype=np.int64)
    sig = np.stack([np.minimum.reduceat(row[flat], starts) for row in h])
    acc = np.zeros((NUM_BANDS, len(starts)), dtype=np.uint64)
    for r in range(ROWS_PER_BAND):
        acc = acc * np.uint64(31) + sig[r::ROWS_PER_BAND]
    return np.ascontiguousarray(acc.T).view(np.int64)


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
