"""Seeded input generator, run before the measured session starts.

Every workload's input is a pure function of ``(workload, seed)``. The
seed picks one of ``SEED_CLASSES`` doc-id ranges and shifts only the doc
ids (in urls and the ``doc_id`` column); texts and surfaces are the same
for every seed, so every seed gives the program the same work. Shifting
the ids the texts are generated from instead changed the work per pass
between seeds (up to 30% for resolve). All ids keep the same number of
digits in every range. Expected outputs are recorded per seed class
(``expected.json``).

Each table is written as ``N_FILES`` parquet files. The file split is
fixed, so neither the bytes nor the content digest depend on how many
worker processes generate them.
"""

from __future__ import annotations

import gc
import hashlib
import multiprocessing
import os

import numpy as np
import pandas as pd

SEED_CLASSES = 16
N_FILES = 8

# kg_crawl / dedup_near: synthetic pages, texts from doc ids
# [PAGE_ID_BASE, PAGE_ID_BASE + PAGES)
PAGES = 6_000
PAGE_ID_BASE = 1_000_000

# resolve_skew: the shape of bench.skewed_mentions — 30% one hot surface,
# 10% a second, 60% near-identical variants (3-4 mentions per variant)
SKEW_MENTIONS = 150_000
SKEW_VARIANTS = 25_000
SKEW_URLS = 50_000
VARIANT_BASE = 1_000_000

WORKLOAD_TABLES = {
    "kg_crawl": ("pages",),
    "resolve_skew": ("mentions",),
    "dedup_near": ("docs",),
}
# parquet directory of each table; docs is the testdata ``documents``
# table that anno_spark.sources.tables.load_table reads
TABLE_DIRS = {
    "pages": "pages.parquet",
    "mentions": "mentions.parquet",
    "docs": "documents.parquet",
}


def seed_class(seed: int) -> int:
    return seed % SEED_CLASSES


def id_shift(seed: int) -> int:
    """Added to every doc id; keeps 7 digits for all seed classes."""
    return seed_class(seed) * max(PAGES, SKEW_URLS)


def _pages_chunk(seed: int, ids: np.ndarray) -> pd.DataFrame:
    from anno_spark.corpus import page_record

    recs = [page_record(int(i)) for i in ids]
    doc_ids = ids + id_shift(seed)
    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "url": [
                r["url"].rsplit("/", 1)[0] + f"/{d}" for r, d in zip(recs, doc_ids)
            ],
            "warc_ts": pd.to_datetime([r["warc_ts"] for r in recs]).astype(
                "datetime64[us]"
            ),
            "text": [r["text"] for r in recs],
            "lang": [r["lang"] for r in recs],
        }
    )


def _mentions_chunk(seed: int, ids: np.ndarray) -> pd.DataFrame:
    r = ids % 10
    variant = VARIANT_BASE + (ids // 10 * 6 + (r - 4)) % SKEW_VARIANTS
    text = np.where(
        r < 3,
        "Acme Corporation",
        np.where(
            r == 3,
            "The Company",
            np.char.add("acme corporation unit ", variant.astype(str)),
        ),
    )
    doc = PAGE_ID_BASE + id_shift(seed) + ids % SKEW_URLS
    url = np.char.add("https://megahost.example/p/", doc.astype(str))
    return pd.DataFrame(
        {"url": url.astype(object), "text": text.astype(object), "entity_type": "ORG"}
    )


def _chunk(args) -> pd.DataFrame:
    table, seed, ids = args
    if table == "mentions":
        return _mentions_chunk(seed, ids)
    pages = _pages_chunk(seed, ids)
    if table == "docs":
        return pages[["doc_id", "text"]]
    return pages.drop(columns=["doc_id"])


def _table_ids(table: str) -> np.ndarray:
    if table == "mentions":
        return np.arange(SKEW_MENTIONS, dtype=np.int64)
    return np.arange(PAGE_ID_BASE, PAGE_ID_BASE + PAGES, dtype=np.int64)


def frame_digest(df: pd.DataFrame) -> str:
    """Content digest of a frame: column names, then every value row by
    row. Independent of the parquet encoding."""
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update("\x1f".join(map(str, row)).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def generate(workload: str, seed: int, out_dir: str, workers: int = 1) -> dict:
    """Write ``workload``'s input tables under ``out_dir`` and return
    ``{"tables": {name: dir}, "rows": {name: n}, "digest": sha256}``."""
    tables, rows = {}, {}
    digest = hashlib.sha256(f"{workload}\x1f".encode())
    for table in WORKLOAD_TABLES[workload]:
        jobs = [
            (table, seed, ids)
            for ids in np.array_split(_table_ids(table), N_FILES)
        ]
        chunks = _map_chunks(jobs, workers)
        path = os.path.join(out_dir, TABLE_DIRS[table])
        os.makedirs(path, exist_ok=True)
        digest.update(table.encode())
        for i, chunk in enumerate(chunks):
            chunk.to_parquet(os.path.join(path, f"part-{i:05d}.parquet"), index=False)
            digest.update(frame_digest(chunk).encode())
        tables[table] = path
        rows[table] = sum(len(c) for c in chunks)
    _stop_resource_tracker()
    return {"tables": tables, "rows": rows, "digest": digest.hexdigest()}


def _map_chunks(jobs, workers: int) -> list:
    if workers <= 1:
        return [_chunk(j) for j in jobs]
    with multiprocessing.get_context("spawn").Pool(min(workers, N_FILES)) as pool:
        return pool.map(_chunk, jobs)


def _stop_resource_tracker() -> None:
    """A spawn pool starts multiprocessing's resource tracker, which would
    otherwise live until this process exits and end only after it. The
    pool's semaphores are collected first, so none is left registered."""
    from multiprocessing import resource_tracker

    gc.collect()
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
