"""The HITS 100-TB layout claim, demonstrated (the 4th instance of the
layout-demo discipline after ANN buckets, IVF cells, and pagerank's src
buckets): with TWO edge copies written BUCKETED+SORTED — one by src, one
by dst — NEITHER per-iteration join moves the edge side (inflow joins
the src copy BY src, outflow joins the dst copy BY dst), and the result
is bit-identical to hits() on the same graph (the iteration is
integer-exact, so no rounding tolerance is needed)."""

import re

from distributed_web_crawler_spark.operators.hits import (
    hits,
    hits_on_tables,
    iteration_inflow,
    iteration_outflow,
    write_edges_dual_bucketed,
)

N_BUCKETS = 8


def _edges(spark):
    rows = [(f"n{i}", f"m{(i * 7 + j) % 40}") for i in range(40) for j in range(1 + i % 3)]
    return spark.createDataFrame(rows, "src string, dst string")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dual_bucketed_iteration_has_no_edge_side_exchange(spark, tmp_path):
    edges = _edges(spark)
    write_edges_dual_bucketed(edges, "hits_plan", n_buckets=N_BUCKETS, base_path=str(tmp_path / "t"))
    outflow = spark.createDataFrame(
        [(f"n{i}", float(i + 1)) for i in range(40)], "src string, hub double"
    )
    inflow = spark.createDataFrame(
        [(f"m{i}", float(i + 1)) for i in range(40)], "dst string, auth double"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_ord = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    try:
        # force the at-scale strategy (both sides big -> sort-merge); a
        # broadcast would make the no-shuffle claim vacuous
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        in_plan = _plan(iteration_inflow(spark.table("hits_plan_src"), outflow))
        out_plan = _plan(iteration_outflow(spark.table("hits_plan_dst"), inflow))
        in_flat = _plan(iteration_inflow(edges, outflow))
        out_flat = _plan(iteration_outflow(edges, inflow))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", old_ord)
        spark.sql("DROP TABLE IF EXISTS hits_plan_src")
        spark.sql("DROP TABLE IF EXISTS hits_plan_dst")

    for plan, flat, key in ((in_plan, in_flat, "src"), (out_plan, out_flat, "dst")):
        assert "Bucketed: true" in plan
        # EXACTLY two exchanges: the score side into the join + the final
        # aggregate — the edge side never moves. The flat layout pays the
        # edge-side exchange too.
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        n_ex_flat = len(re.findall(r"Exchange hashpartitioning", flat))
        assert n_ex == 2, plan
        assert n_ex_flat > n_ex, (key, n_ex, n_ex_flat)
        # r9: the iteration joins shuffled-hash on the score side (guide
        # §3.1) — NO Sort anywhere: edges stream unsorted, the O(nodes)
        # score side is the build side (stronger than the old SMJ shape,
        # which needed a score-side Sort even over the sorted buckets)
        assert "ShuffledHashJoin" in plan, plan
        assert plan.count(f"Sort [{key}") == 0, plan


def test_hits_on_tables_matches_flat(spark, tmp_path):
    edges = _edges(spark)
    write_edges_dual_bucketed(edges, "hits_par", n_buckets=N_BUCKETS, base_path=str(tmp_path / "t2"))
    try:
        flat = {r["url"]: (r["hub"], r["auth"]) for r in hits(edges, n_iters=2).collect()}
        buck = {
            r["url"]: (r["hub"], r["auth"])
            for r in hits_on_tables(spark, "hits_par", n_iters=2).collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS hits_par_src")
        spark.sql("DROP TABLE IF EXISTS hits_par_dst")
    # integer-exact iteration + identical normalization divisors ⇒ equal
    # BITS, not approximately equal
    assert flat == buck


def test_failed_iteration_releases_caches(spark, tmp_path, monkeypatch):
    """A failure inside the HITS iteration must not pin the edge or node
    caches of either entry point (flat and dual-bucketed tables)."""
    import pytest

    from distributed_web_crawler_spark.operators import hits as H

    def boom(*args, **kwargs):
        raise RuntimeError("iteration failed")

    edges = _edges(spark)
    write_edges_dual_bucketed(edges, "hits_fail", n_buckets=N_BUCKETS, base_path=str(tmp_path / "t3"))
    monkeypatch.setattr(H, "_iterate", boom)
    try:
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        with pytest.raises(RuntimeError, match="iteration failed"):
            hits(edges)
        with pytest.raises(RuntimeError, match="iteration failed"):
            hits_on_tables(spark, "hits_fail")
        assert not (set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before)
    finally:
        spark.sql("DROP TABLE IF EXISTS hits_fail_src")
        spark.sql("DROP TABLE IF EXISTS hits_fail_dst")
