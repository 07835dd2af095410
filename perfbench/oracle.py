"""Reference answers the benchmark checks the engine against.

``bfs_levels`` is a vectorized breadth-first crawl over the synthetic link
rule (``fixtures.corpus.out_links_batch``) with the engine's semantics when
politeness and robots are off: first-discovery dedup across depths and the
last depth's links dropped. It handles thousands of seeds at once, where the
pure-Python ``oracle.crawler.crawl`` serves single-seed requests.
"""

from __future__ import annotations

import hashlib

import numpy as np

from distributed_web_crawler_spark.fixtures import corpus as C


def urls_of(idx: np.ndarray, spec: C.CorpusSpec) -> np.ndarray:
    """Vectorized ``corpus.url_of``."""
    idx = np.asarray(idx, np.int64)
    prefix = np.array([f"http://{C.host_name(h)}/p/" for h in range(spec.n_hosts)])
    return np.char.add(prefix[C.host_of_batch(idx, spec)], idx.astype(str))


def bfs_levels(seed_idx: np.ndarray, depth: int, spec: C.CorpusSpec) -> list[np.ndarray]:
    level = np.unique(np.asarray(seed_idx, np.int64))
    seen = level
    levels = [level]
    for _ in range(depth - 1):
        _, targets = C.out_links_batch(level, spec)
        level = np.setdiff1d(np.unique(targets), seen, assume_unique=True)
        seen = np.union1d(seen, level)
        levels.append(level)
    return levels


def levels_digest(depths, urls) -> tuple[dict, str]:
    """Per-depth URL counts and an order-independent digest of
    (depth, url) pairs."""
    depths = np.asarray(depths, np.int64)
    urls = np.asarray(urls, dtype=str)
    order = np.lexsort((urls, depths))
    counts = {int(d): int(n) for d, n in zip(*np.unique(depths, return_counts=True))}
    h = hashlib.sha256()
    for d, u in zip(depths[order], urls[order]):
        h.update(f"{d}\t{u}\n".encode())
    return counts, h.hexdigest()


def expected_digest(levels: list[np.ndarray], spec: C.CorpusSpec) -> tuple[dict, str]:
    depths = np.concatenate([np.full(len(lv), d, np.int64) for d, lv in enumerate(levels)])
    urls = np.concatenate([urls_of(lv, spec) for lv in levels])
    return levels_digest(depths, urls)
