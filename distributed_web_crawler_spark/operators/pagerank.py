"""PageRank power iteration over an edge DataFrame — the crawl-frontier
PRIORITIZATION signal (generalizes the reference's FIFO drain order,
master.go job queue: a production crawler drains high-rank hosts/pages
first — politeness.schedule(priority=...) consumes exactly such a rank
column as its per-host order key, budgets and sub-round slicing
unchanged; tests/test_politeness_schedule.py exercises the pairing).

Semantics: the classic simple power iteration,
    rank_{t+1}(v) = (1-d)/N + d * Σ_{u→v} rank_t(u) / outdeg(u)
over N = |distinct nodes|; dangling mass is dropped (the Spark-examples
variant), so ranks need not sum to 1 — callers ranking a frontier only
need the ORDER. Deterministic across engines at 6 dp (the DuckDB oracle
renders the identical iteration as chained CTEs; float association noise
is ~1e-15 relative, far below the rounding).

Scale shape (100 TB): `edges` is joined BY src every iteration — a real
deployment pre-partitions/buckets the edge table on src once so every
iteration's join is co-located (same discipline as plans/frontier's
bucketed seen set); the per-iteration shuffle is then only the rank side
plus the contribution aggregate keyed by dst. That claim is DEMONSTRATED
here, not just stated: ``write_edges_bucketed`` lays the contribution
edges out as a parquet table bucketed AND sorted by src, and
``pagerank_on_table`` iterates against that layout — the per-iteration
join plan scans it with ``Bucketed: true`` and NO edge-side Exchange or
Sort (machine-asserted in tests/test_pagerank_bucketed.py and
scripts/explain_audit.py, the same treatment ann_topk_partitioned got
for its partition-pruning claim). The out-degree weight w = 1/outdeg
lives on the O(nodes) SCORE side (r9c): the flat path caches raw
(src, dst) pairs repartitioned by src and derives (src, w) with an
exchange-free aggregate over that cache; the bucketed path lifts the
table's w column the same way — so the per-edge join rows carry no w
and the per-edge multiply becomes an O(nodes) multiply. Iteration
state is one (dst, inflow)
SUPPORT-SET frame (r9b: rank = base + d·inflow is a pure per-row
function of it, so no full (node, rank) frame is ever assembled inside
the loop — nodes join once, in the final projection), persisted per
step and released when superseded — lineage is truncated with the same
tracked localCheckpoint used by operators/bfs.py, so deep iteration
counts neither grow plans nor pin O(iters) caches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .bfs import IterationState


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 5,
) -> DataFrame:
    """edges: (src string, dst string), duplicates allowed (parallel edges
    contribute multiplicity, matching the SQL oracle). Returns
    (url string, rank double) for every node, rank UNROUNDED — callers
    compare/rank on a rounded projection."""
    # r9c (guide §2.1/§2.3): the edge cache is the RAW (src, dst) pairs
    # repartitioned by src — w moves to the O(nodes) score side (see
    # iteration_scores), so (a) the former per-edge window that attached w
    # needed an exchange AND a 12M-row SORT, both gone (the repartition is
    # the same exchange, unsorted); (b) the cache drops the w column
    # (~33% fewer bytes); (c) every iteration's big join finds BOTH sides
    # already partitioned by src (the cache by construction, the scores
    # frame because it derives from the src-keyed degree aggregate), so
    # the only data-sized move per iteration is the dst aggregate's
    # exchange. w = 1.0/count(*) per src is the identical double the
    # window computed.
    _check_iters(n_iters)
    p = edges.sparkSession.sparkContext.defaultParallelism
    e = edges.select("src", "dst").repartition(p, "src").persist()
    wframe = (
        e.groupBy("src").agg((F.lit(1.0) / F.count("*")).alias("w")).persist()
    )
    nodes = (
        e.select(F.col("src").alias("url"))
        .unionByName(e.select(F.col("dst").alias("url")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # materializes the edge cache + nodes
    if n == 0:
        for f in (nodes, wframe, e):
            f.unpersist()
        return edges.sparkSession.createDataFrame([], "url string, rank double")

    out = _power_iterate(nodes, e, wframe, n, n_iters, damping, checkpoint_every)
    for f in (nodes, wframe, e):
        f.unpersist()
    return out


def iteration_scores(
    wframe: DataFrame, inflow: DataFrame, base: float, damping: float
) -> DataFrame:
    """(src, rankw = rank·w) for every src with out-edges, from the
    PREVIOUS step's inflow support set (r9b: rank_t(u) =
    base + damping·inflow_t(u) is a pure per-row function of the inflow —
    inflow absent ⇔ no in-edges ⇔ exactly 0 — so the iteration never
    assembles a full (node, rank) frame; nodes enter once, in the final
    projection, the same support-set discipline hits() has used since
    r8). rankw is the identical double product rank·w the per-edge sum
    used to evaluate, just computed once per SRC instead of once per
    edge (r9c, guide §2.3: O(nodes) multiplies instead of O(edges), and
    the big join streams 16-byte (src, dst) rows with no w column).
    Both inputs are keyed by the same src hash (wframe from the degree
    aggregate, inflow from the previous dst aggregate), so this join
    moves nothing data-sized."""
    rank = F.lit(base) + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
    return wframe.join(
        inflow.withColumnRenamed("dst", "src").hint("shuffle_hash"), "src", "left"
    ).select("src", (rank * F.col("w")).alias("rankw"))


def iteration_contribs(edges: DataFrame, scores: DataFrame) -> DataFrame:
    """ONE power-iteration inflow: raw (src, dst) edges ⋈ (src, rankw)
    scores, summed by dst. Split out so plan audits can assert the join
    shape against a bucketed edge layout without running a full pagerank.

    r9 (guide §3.1 "pick the strategy deliberately"): the score side is
    hinted SHUFFLE_HASH — the planner's default sort-merge join re-SORTS
    the O(edges) side every iteration (the bucketed layout only removes
    its Exchange, not the sort, since bucketedTableScan.outputOrdering is
    off), while a shuffled-hash join builds on the O(nodes) score side
    (bounded per partition) and streams edges with no sort at all. The
    join is INNER: every edge src is in the degree frame by construction,
    and a src absent from the inflow already got its base rank inside
    iteration_scores."""
    return (
        edges.join(scores.hint("shuffle_hash"), "src")
        .groupBy("dst")
        .agg(F.sum("rankw").alias("inflow"))
    )


def _check_iters(n_iters: int) -> None:
    # checked before any persist: a raise after the caches materialize
    # would pin them for the session
    if n_iters < 1:
        raise ValueError(f"pagerank requires n_iters >= 1, got {n_iters}")


def _power_iterate(nodes, edges, wframe, n, n_iters, damping, checkpoint_every):
    base = (1.0 - damping) / n
    st = IterationState(checkpoint_every)
    inflow = None
    for it in range(1, n_iters + 1):
        if it == 1:
            # rank_0 ≡ 1/n: no inflow frame yet — the first scores are a
            # plain projection of the degree frame, with the same
            # per-term product (1/n)·w the former rank_0 join summed
            scores = wframe.select(
                "src", (F.lit(1.0 / n) * F.col("w")).alias("rankw")
            )
        else:
            scores = iteration_scores(wframe, inflow, base, damping)
        inflow = st.step(iteration_contribs(edges, scores), it)
    # final projection: the ONE place the full node set is needed —
    # rank = base + d·coalesce(inflow, 0), identical to the expression the
    # per-step rank assembly used to evaluate
    return st.finish(
        nodes.join(
            inflow.withColumnRenamed("dst", "url").hint("shuffle_hash"), "url", "left"
        ).select(
            "url",
            (F.lit(base) + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))).alias(
                "rank"
            ),
        )
    )


def contrib_edges_of(edges: DataFrame) -> DataFrame:
    """(src, dst, w=1/outdeg(src)) — the LAYOUT projection
    write_edges_bucketed persists (one-time job; the window's src
    clustering is what the bucketed write wants anyway, and
    1.0/count(*) is the identical double for any evaluation order).
    Since r9c the in-memory iteration no longer uses this shape — it
    streams raw (src, dst) pairs and lifts w to the score side — but the
    on-disk table keeps the w column so a single layout serves both this
    engine and plain contribution-join consumers."""
    from pyspark.sql import Window

    w = Window.partitionBy("src")
    return edges.select(
        "src", "dst", (F.lit(1.0) / F.count("*").over(w)).alias("w")
    )


def write_edges_bucketed(edges: DataFrame, name: str, n_buckets: int = 32, path: str | None = None) -> None:
    """One-time layout for iterative rank jobs: the contribution edges as a
    parquet table BUCKETED and SORTED by src (`name` in the session
    catalog; `path` makes it external). Every subsequent
    ``pagerank_on_table`` iteration joins this table by src with no
    edge-side Exchange — only the rank side moves; with
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` (off by
    default since Spark 3.0 because it costs a file listing at planning)
    the per-bucket sortBy also eliminates the edge-side Sort. On a cluster
    this is the Iceberg `bucket(N, src)` partition transform; the
    reference has no analog (its graph lives in per-job Go maps,
    Server/Master/master.go) — this is the 100-TB shape of the same
    frontier-prioritization computation."""
    # ONE file per bucket: Spark only trusts a bucketed table's sortBy
    # metadata (and so can drop the join-side Sort) when each bucket holds
    # a single file; repartition on the bucket key aligns writer tasks
    # with buckets (same Murmur3 hash on both sides)
    writer = (
        contrib_edges_of(edges)
        .repartition(n_buckets, F.col("src"))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "src")
        .sortBy("src")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


def pagerank_on_table(
    spark,
    name: str,
    n_iters: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 5,
) -> DataFrame:
    """PageRank over a pre-bucketed contribution-edge table (see
    write_edges_bucketed). Numerically identical to pagerank() on the
    same graph: same iteration, same float association order per row
    group (sum order over a dst's inflow is shuffle-determined in both).

    r9c: the iteration streams only the table's (src, dst) columns (the
    w column is lifted into the O(nodes) score side by an exchange-free
    min(w)-per-src aggregate over the bucketed scan — every row of a
    src carries the identical w the layout writer computed, and min does
    not depend on row order)."""
    _check_iters(n_iters)
    t = spark.table(name)
    edges = t.select("src", "dst")
    wframe = t.groupBy("src").agg(F.min("w").alias("w")).persist()
    nodes = (
        t.select(F.col("src").alias("url"))
        .unionByName(t.select(F.col("dst").alias("url")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        wframe.unpersist()
        return spark.createDataFrame([], "url string, rank double")
    out = _power_iterate(nodes, edges, wframe, n, n_iters, damping, checkpoint_every)
    nodes.unpersist()
    wframe.unpersist()
    return out
