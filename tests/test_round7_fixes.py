"""Round-7 regression pins for the r6 ADVICE findings: content-
fingerprinted layout caching for the pagerank/hits bucketed layouts,
n_iters >= 1 contracts for hits/kmeans, and LFU eviction decided on the
exact frame fold_delta commits."""

import os
import time

import pandas as pd
import pytest

from distributed_web_crawler_spark import queries as Q
from distributed_web_crawler_spark.plans.ledger import JobCache


def _fake_sf_dir(tmp_path, content=b"v1"):
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    (d / "lineitem.parquet").write_bytes(content)
    return str(d)


def test_ensure_layout_rebuilds_on_content_change(tmp_path, monkeypatch):
    """ADVICE r6 #1: the cache key must carry a CONTENT fingerprint — a
    regenerated source at the same path rebuilds instead of silently
    reusing the stale layout — and publish must be atomic (build lands in
    staging, never the final path)."""
    monkeypatch.setenv("TMPDIR", str(tmp_path / "layouts"))
    os.makedirs(str(tmp_path / "layouts"), exist_ok=True)
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path / "layouts"))

    sf = _fake_sf_dir(tmp_path)
    calls = []

    def build(staging):
        calls.append(staging)
        assert ".tmp" in os.path.basename(staging), (
            "build must run in a staging dir, not the final path"
        )
        os.makedirs(staging, exist_ok=True)  # spark writers mkdir themselves
        open(os.path.join(staging, "_SUCCESS"), "w").close()

    p1 = Q._ensure_layout(None, sf, "r7test", build, src_table="lineitem")
    p2 = Q._ensure_layout(None, sf, "r7test", build, src_table="lineitem")
    assert p1 == p2 and len(calls) == 1  # warm hit: no rebuild

    # regenerate the source at the same path (content + mtime change)
    time.sleep(0.01)
    _fake_sf_dir(tmp_path, b"v2-regenerated")
    p3 = Q._ensure_layout(None, sf, "r7test", build, src_table="lineitem")
    assert p3 != p1 and len(calls) == 2  # stale tag rejected, rebuilt


def test_hits_rejects_zero_iters(spark):
    from distributed_web_crawler_spark.operators.hits import hits

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    # rejected before any cache is persisted, so nothing stays pinned
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(ValueError, match="n_iters"):
        hits(edges, n_iters=0)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == before


def test_kmeans_rejects_zero_iters(spark):
    from distributed_web_crawler_spark.operators.similarity import kmeans_fit

    emb = spark.createDataFrame([(0, [0.0, 1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="n_iters"):
        kmeans_fit(emb, 2, n_centroids=2, n_iters=0)


def test_cache_eviction_decided_on_committed_frame(tmp_path):
    """ADVICE r6 #4: _evict must see EXACTLY the frame fold_delta
    commits. The divergence window is an UPDATE of an existing key that
    simultaneously overflows the cache (here: a second handle with a
    smaller max_entries over the same warehouse) under exact
    (hits, expires_at) ties: the committed survivors and row order must
    equal an independent replay of fold_delta + _evict — the updated key
    keeps its ORIGINAL position, never a concat append to the tail."""
    from distributed_web_crawler_spark.catalog.tables import fold_delta

    cache = JobCache(str(tmp_path), ttl_s=1000.0, max_entries=3)
    for seed in ["u1", "u2", "u3"]:
        assert cache.put_if_deeper(seed, 1, [[seed]], now=100.0)
    pre = cache._t.read()
    assert list(pre["seed_url"]) == ["u1", "u2", "u3"]

    shrunk = JobCache(str(tmp_path), ttl_s=1000.0, max_entries=2)
    row = {"seed_url": "u1", "depth": 2, "results": [["u1"]],
           "expires_at": 100.0 + 1000.0, "hits": 0}
    folded = fold_delta(pre, pd.DataFrame([row]), [], "seed_url")
    expected = shrunk._evict(folded, "u1", 100.0)
    assert len(expected) == 2  # the overflow really evicted someone

    assert shrunk.put_if_deeper("u1", 2, [["u1"]], now=100.0)
    got = shrunk._t.read()
    assert list(got["seed_url"]) == list(expected["seed_url"])
    # updated key kept its original (fold_delta in-place) position
    assert list(got["seed_url"]).index("u1") == 0
    assert int(got[got["seed_url"] == "u1"]["depth"].iloc[0]) == 2
