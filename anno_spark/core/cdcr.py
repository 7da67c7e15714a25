"""X1–X6 — in-memory cross-document coreference resolver (SURVEY §2.6).

Single-process re-implementation of the reference CDCR resolver
(anno/src/eval/cdcr.rs:420-578) used as the parity oracle for the
distributed pipeline (anno_spark.sparkjobs.resolve):

* candidate pairs via brute force (≤100 docs, crossdoc.rs:620) or LSH
  banding (cdcr.rs:314-347)
* should_cluster = optional type match + string_similarity ≥ min_similarity
  (default 0.5; cdcr.rs:433-442, 539-548)
* path-compressed union-find (cdcr.rs:556-578)
* cluster canonical = first member's surface; the reference's HashMap
  iteration makes this nondeterministic (cdcr.rs:519-535) — here clusters
  are enumerated deterministically by smallest member index, which is an
  intentional, documented divergence (SURVEY §7.3)
"""

from __future__ import annotations

from dataclasses import dataclass

from .minhash import band_hash_matrix
from .similarity import string_similarity


@dataclass
class MentionRef:
    doc_id: str
    entity_idx: int
    text: str
    entity_type: str


def candidate_pairs_lsh(texts: list[str]) -> set[tuple[int, int]]:
    """cdcr.rs:314-347 — all index pairs sharing any LSH band bucket."""
    bands = band_hash_matrix(texts).tolist()
    candidates: set[tuple[int, int]] = set()
    num_bands = len(bands[0]) if bands else 0
    for band in range(num_bands):
        buckets: dict[int, list[int]] = {}
        for idx, bh in enumerate(bands):
            buckets.setdefault(bh[band], []).append(idx)
        for idxs in buckets.values():
            for i in range(len(idxs)):
                for j in range(i + 1, len(idxs)):
                    a, b = idxs[i], idxs[j]
                    candidates.add((a, b) if a < b else (b, a))
    return candidates


class UnionFind:
    """Path-compressed union-find (cdcr.rs:556-578)."""

    def __init__(self, n: int):
        self.parent = list(range(n))

    def find(self, i: int) -> int:
        root = i
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[i] != root:
            self.parent[i], i = root, self.parent[i]
        return root

    def union(self, i: int, j: int):
        ri, rj = self.find(i), self.find(j)
        if ri != rj:
            self.parent[ri] = rj


def resolve(
    mentions: list[MentionRef],
    min_similarity: float = 0.5,
    require_type_match: bool = True,
    use_lsh: bool = True,
) -> list[list[int]]:
    """→ clusters as lists of mention indices, enumerated deterministically
    by smallest member index; members in index order."""
    if not mentions:
        return []
    n = len(mentions)
    if use_lsh:
        candidates = candidate_pairs_lsh([m.text for m in mentions])
    else:
        candidates = {(i, j) for i in range(n) for j in range(i + 1, n)}

    uf = UnionFind(n)
    for i, j in sorted(candidates):
        a, b = mentions[i], mentions[j]
        if require_type_match and a.entity_type != b.entity_type:
            continue
        if string_similarity(a.text, b.text) >= min_similarity:
            uf.union(i, j)

    cluster_map: dict[int, list[int]] = {}
    for i in range(n):
        cluster_map.setdefault(uf.find(i), []).append(i)
    return sorted(cluster_map.values(), key=lambda members: members[0])
