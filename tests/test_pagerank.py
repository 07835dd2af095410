"""pagerank() semantics: hand-computed tiny graph, dangling handling,
cache release (IterationState discipline shared with bfs)."""

from distributed_web_crawler_spark.operators.bfs import release_checkpoint
from distributed_web_crawler_spark.operators.pagerank import pagerank


def _collect_release(df):
    """Collect a checkpointed result and release its blocks — leaving them
    to the GC-timed ContextCleaner makes OTHER tests' persistent-RDD
    accounting flaky (order-dependent failure found by review)."""
    rows = df.collect()
    release_checkpoint(df)
    return rows


def test_matches_hand_computation(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    got = {r["url"]: r["rank"] for r in _collect_release(pagerank(edges, n_iters=2, damping=0.85))}
    r = {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}
    for _ in range(2):
        base = 0.15 / 3
        inflow = {"b": r["a"] / 2, "c": r["a"] / 2 + r["b"], "a": r["c"]}
        r = {v: base + 0.85 * inflow.get(v, 0.0) for v in "abc"}
    assert got.keys() == r.keys()
    for v in r:
        assert abs(got[v] - r[v]) < 1e-12


def test_dangling_mass_drops_and_sink_nodes_keep_base(spark):
    # b is a sink (no out-edges): its mass vanishes, it still receives
    # inflow; a node with no in-edges bottoms out at (1-d)/N
    edges = spark.createDataFrame([("a", "b"), ("c", "b")], ["src", "dst"])
    got = {r["url"]: r["rank"] for r in _collect_release(pagerank(edges, n_iters=3, damping=0.85))}
    base = 0.15 / 3
    assert abs(got["a"] - base) < 1e-12  # no in-edges after iter 1
    assert abs(got["c"] - base) < 1e-12
    assert got["b"] > got["a"]


def test_iteration_state_releases_caches(spark):
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    edges = spark.createDataFrame(
        [(f"u{i}", f"u{(i * 7 + 1) % 20}") for i in range(20)], ["src", "dst"]
    )
    out = pagerank(edges, n_iters=12, checkpoint_every=4)
    assert out.count() == 20
    new_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before
    assert len(new_ids) <= 1  # only the returned checkpoint remains
    release_checkpoint(out)
    assert not (set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before)


def test_empty_edges(spark):
    out = pagerank(spark.createDataFrame([], "src string, dst string"), n_iters=3)
    assert out.collect() == []
    assert out.columns == ["url", "rank"]


def test_iteration_scores_absent_sources_at_base(spark):
    """r9b/r9c support-set iteration: a src missing from the inflow frame
    has no in-edges, so its rank is exactly base — the score-side left
    join + inline rank·w product must reproduce what the old
    full-rank-frame assembly computed for it."""
    import pytest

    from distributed_web_crawler_spark.operators.pagerank import (
        iteration_contribs,
        iteration_scores,
        pagerank,
    )

    edges = spark.createDataFrame([("a", "b"), ("c", "b")], ["src", "dst"])
    wframe = spark.createDataFrame([("a", 1.0), ("c", 1.0)], "src string, w double")
    inflow = spark.createDataFrame([("a", 0.2)], "dst string, inflow double")  # c absent
    scores = {r["src"]: r["rankw"] for r in iteration_scores(wframe, inflow, 0.05, 0.85).collect()}
    # rank(a) = 0.05 + 0.85*0.2 = 0.22, rank(c) = base = 0.05; both w=1
    assert abs(scores["a"] - 0.22) < 1e-15 and abs(scores["c"] - 0.05) < 1e-15
    out = {
        r["dst"]: r["inflow"]
        for r in iteration_contribs(
            edges, iteration_scores(wframe, inflow, 0.05, 0.85)
        ).collect()
    }
    assert abs(out["b"] - (0.22 + 0.05)) < 1e-15
    assert set(out) == {"b"}

    # rejected before any cache is persisted, so nothing stays pinned
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(ValueError, match="n_iters"):
        pagerank(edges, n_iters=0)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == before


def test_failed_iteration_releases_caches(spark, tmp_path, monkeypatch):
    """A failure inside the power iteration must not pin the edge, weight
    or node caches of either entry point (flat and bucketed-table)."""
    import pytest

    from distributed_web_crawler_spark.operators import pagerank as PR

    def boom(*args, **kwargs):
        raise RuntimeError("iteration failed")

    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    PR.write_edges_bucketed(edges, "pr_fail", n_buckets=2, path=str(tmp_path / "pr_fail"))
    monkeypatch.setattr(PR, "_power_iterate", boom)
    try:
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        with pytest.raises(RuntimeError, match="iteration failed"):
            PR.pagerank(edges)
        with pytest.raises(RuntimeError, match="iteration failed"):
            PR.pagerank_on_table(spark, "pr_fail")
        assert not (set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before)
    finally:
        spark.sql("DROP TABLE IF EXISTS pr_fail")
