"""HITS (hubs & authorities) over a DIRECTED edge DataFrame — the second
frontier-prioritization signal next to operators/pagerank.py (the
reference drains its queue FIFO, Server/Master/master.go; a production
crawler ranks candidate pages by authority and seed lists by hub score —
either column slots into politeness.schedule(priority=/grade=) exactly
like pagerank's rank does).

Semantics (Kleinberg's iteration, unnormalized until the end):
    auth_t(v) = Σ_{(u,v)∈E} hub_{t-1}(u)
    hub_t(u)  = Σ_{(u,v)∈E} auth_t(v)
starting from hub_0 ≡ 1 over N = |distinct nodes|; parallel edges
contribute multiplicity (matching the oracle's plain join arithmetic).
Because hub_0 is integral, EVERY interim value is an exact integer in
double precision (sums of integers, no division) until the single final
normalization by the global max — so the DuckDB oracle matches
bit-for-bit, with none of pagerank's 1e-15 association-noise margin.
Final scores are max-normalized to [0, 1] (max of exact integers is
exact; one correctly-rounded division per row) and rounded to 6 dp.

Scale shape (100 TB): each iteration joins the edge table twice — by src
(auth inflow) and by dst (hub outflow) — so the at-scale layout is TWO
bucketed copies of the edge table, one clustered by src and one by dst,
written once by ``write_edges_dual_bucketed`` and consumed by
``hits_on_tables`` with NO edge-side Exchange on either join
(machine-asserted in tests/test_hits_bucketed.py and PLANS.md —
the same demonstration pagerank's src-bucketed layout got). Only the
O(nodes) score frames move per iteration. Iteration state uses the
shared IterationState discipline (operators/bfs.py): O(1) cached
generations at any iteration depth, and the returned frame is a raw
checkpointed LogicalRDD so ``bfs.release_checkpoint`` can free it like a
bfs()/pagerank() result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .bfs import IterationState


def hits(edges: DataFrame, n_iters: int = 2, checkpoint_every: int = 5) -> DataFrame:
    """edges: (src string, dst string), duplicates allowed. Returns
    (url string, hub double, auth double), max-normalized and UNROUNDED —
    callers compare on a rounded projection (q_hits rounds to 6 dp).

    The iteration carries only SUPPORT-SET frames: inflow_t = (dst, auth)
    for dsts with ≥1 in-edge, outflow_t = (src, hub) for srcs — a node
    absent from either frame has score 0 and contributes 0 to every
    downstream sum, so joining the full node set per step (the oracle's
    rendering) is algebraically redundant; nodes enter once, in the final
    projection. hub_0 ≡ 1 makes the first inflow the plain in-degree.

    r9c (guide §2.1): the flat path persists TWO edge caches, one
    repartitioned by src and one by dst — the in-memory mirror of the
    dual-bucketed disk layout. The former single round-robin cache
    forced a 12M-row edge-side Exchange inside EVERY iteration join
    (by src for the inflow step, by dst for the outflow step); with the
    dual caches each join finds its edge side already clustered on the
    join key (and the score side arrives co-partitioned from the
    previous aggregate), so the only data-sized move per step is the
    aggregate's own exchange. Values are unchanged — the iteration is
    integer-exact, so row order cannot change a bit."""
    _check_iters(n_iters)
    p = edges.sparkSession.sparkContext.defaultParallelism
    raw = edges.select("src", "dst")
    edges_src = raw.repartition(p, "src").persist()
    edges_dst = raw.repartition(p, "dst").persist()
    nodes = _node_set(edges_src).persist()
    if nodes.count() == 0:  # materializes the src cache + nodes
        for f in (edges_src, edges_dst, nodes):
            f.unpersist()
        return edges.sparkSession.createDataFrame([], "url string, hub double, auth double")
    out = _iterate(nodes, edges_src, edges_dst, n_iters, checkpoint_every)
    for f in (edges_src, edges_dst, nodes):
        f.unpersist()
    return out


def write_edges_dual_bucketed(
    edges: DataFrame, base_name: str, n_buckets: int = 16, base_path: str | None = None
) -> None:
    """The at-scale HITS layout the module docstring promises: TWO copies
    of the edge table, `{base_name}_src` bucketed+sorted by src and
    `{base_name}_dst` by dst (one file per bucket, same discipline as
    pagerank.write_edges_bucketed — Iceberg `bucket(N, key)` transforms).
    `hits_on_tables` then iterates with NO edge-side Exchange on EITHER
    join: only the O(nodes) score frames move (machine-asserted in
    tests/test_hits_bucketed.py and PLANS.md)."""
    for key, suffix in (("src", "_src"), ("dst", "_dst")):
        writer = (
            edges.repartition(n_buckets, F.col(key))
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(key)
        )
        if base_path is not None:
            writer = writer.option("path", base_path + suffix)
        writer.saveAsTable(base_name + suffix)


def hits_on_tables(
    spark, base_name: str, n_iters: int = 2, checkpoint_every: int = 5
) -> DataFrame:
    """HITS over the dual-bucketed layout (see write_edges_dual_bucketed):
    the inflow step joins `{base_name}_src` BY src and the outflow step
    joins `{base_name}_dst` BY dst — both scans are `Bucketed: true`, so
    the edge side never exchanges; numerically identical to hits() on the
    same graph (the iteration is integer-exact, so identical means
    bit-for-bit, not just within rounding)."""
    _check_iters(n_iters)
    edges_src = spark.table(base_name + "_src")
    edges_dst = spark.table(base_name + "_dst")
    nodes = _node_set(edges_src).persist()
    if nodes.count() == 0:
        nodes.unpersist()
        return spark.createDataFrame([], "url string, hub double, auth double")
    out = _iterate(nodes, edges_src, edges_dst, n_iters, checkpoint_every)
    nodes.unpersist()
    return out


def iteration_inflow(edges: DataFrame, outflow: DataFrame) -> DataFrame:
    """ONE inflow step: edges ⋈ hub scores BY src, aggregated by dst.
    Split out so plan audits can assert the join shape against the
    src-bucketed layout without running a full hits().

    r9 (guide §3.1): the score side is hinted SHUFFLE_HASH — the default
    sort-merge join re-sorts the O(edges) side every iteration (the
    bucketed layout removes only its Exchange); a shuffled-hash join
    builds on the O(nodes) score side and streams edges unsorted. The
    iteration stays integer-exact (sums of integers in double), so the
    different row order cannot change a single output bit."""
    return (
        edges.join(outflow.hint("shuffle_hash"), "src")
        .groupBy("dst")
        .agg(F.sum("hub").alias("auth"))
    )


def iteration_outflow(edges: DataFrame, inflow: DataFrame) -> DataFrame:
    """ONE outflow step: edges ⋈ auth scores BY dst, aggregated by src
    (shuffled-hash on the score side — see iteration_inflow)."""
    return (
        edges.join(inflow.hint("shuffle_hash"), "dst")
        .groupBy("src")
        .agg(F.sum("auth").alias("hub"))
    )


def _check_iters(n_iters: int) -> None:
    # checked before any persist: a raise after the caches materialize
    # would pin them for the session
    if n_iters < 1:
        raise ValueError(f"hits requires n_iters >= 1, got {n_iters}")


def _node_set(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("url"))
        .unionByName(edges.select(F.col("dst").alias("url")))
        .distinct()
    )


def _iterate(
    nodes: DataFrame,
    edges_for_inflow: DataFrame,
    edges_for_outflow: DataFrame,
    n_iters: int,
    checkpoint_every: int,
) -> DataFrame:
    """The ONE copy of the iteration loop + cache-lifetime rules, shared
    by the flat and dual-bucketed paths (the hand-rolled-copies failure
    class ROUND5 retired for bfs/pagerank applies here too)."""
    st = IterationState(checkpoint_every)
    inflow = outflow = None
    for it in range(1, n_iters + 1):
        if it == 1:
            # hub_0 ≡ 1: the first inflow is the dst in-degree (with
            # multiplicity); computed on the outflow copy so the groupBy
            # key matches its bucketing when the layout provides it
            inflow = edges_for_outflow.groupBy("dst").agg(
                F.count("*").cast("double").alias("auth")
            )
        else:
            inflow = iteration_inflow(edges_for_inflow, outflow)
        if it == n_iters:
            # the LAST inflow feeds BOTH the final outflow and the final
            # projection — persist it so that fork does not recompute.
            # Persisted manually (not st.track): a step-checkpoint at
            # it == n_iters would release a tracked handle BEFORE the
            # final projection reads it, forcing a full recompute chain.
            # Interim inflows are consumed exactly once — no persist.
            inflow = inflow.persist()
        outflow = st.step(iteration_outflow(edges_for_outflow, inflow), it)
    # r9: the normalization maxes come from the CACHED support-set frames —
    # a node absent from outflow/inflow scores exactly 0 and hub/auth are
    # nonnegative (sums of counts), so max over the support set IS the max
    # over all nodes; the old path materialized (persist) and re-scanned an
    # extra O(nodes) projection just to take the same two maxes. Two tiny
    # cache-read aggregates instead; the final projection then flows
    # straight into finish()'s one checkpoint pass. Values are division by
    # the identical doubles — bit-identical output.
    hmax = outflow.agg(F.max("hub")).collect()[0][0]
    amax = inflow.agg(F.max("auth")).collect()[0][0]
    out = st.finish(
        nodes.join(outflow.withColumnRenamed("src", "url").hint("shuffle_hash"), "url", "left")
        .join(inflow.withColumnRenamed("dst", "url").hint("shuffle_hash"), "url", "left")
        .select(
            "url",
            (F.coalesce(F.col("hub"), F.lit(0.0)) / F.lit(float(hmax) if hmax else 1.0)).alias("hub"),
            (F.coalesce(F.col("auth"), F.lit(0.0)) / F.lit(float(amax) if amax else 1.0)).alias("auth"),
        )
    )  # finish() is eager — safe to release inputs below
    inflow.unpersist()
    return out
