"""Traced-run instrumentation and the per-layer measurements.

``instrument`` wraps the public functions of the engine's layers with
spans. ``probe_layers`` then calls each layer on its own, on the state a
workload left behind, and ``time_queries`` times every ``bench_queries()``
leaf. ``layer_metrics`` folds the spans and probe results into the
per-layer metrics listed in BENCHMARK.json.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from distributed_web_crawler_spark import queries as Q
from distributed_web_crawler_spark.catalog.tables import JobStateStore
from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.functions import bloom as B
from distributed_web_crawler_spark.functions import urls as U
from distributed_web_crawler_spark.functions.images import verify_batch
from distributed_web_crawler_spark.operators.extract import extract_links
from distributed_web_crawler_spark.operators.politeness import schedule
from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy
from distributed_web_crawler_spark.plans.frontier import FrontierEngine
from distributed_web_crawler_spark.plans.ledger import JobCache, JobLedger
from distributed_web_crawler_spark.sources.fetch import fetch_and_verify

from oracle import urls_of
from tracing import Tracer, median

QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
QUERY_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000


def instrument(tracer, spark) -> list[dict]:
    """Wrap the layers' public functions. Returns the list that collects
    one record per ``run_job`` call: its wall time, its rounds' walls and
    sub-rounds, and the Spark jobs submitted in each round."""
    calls: list[dict] = []
    jsc = spark.sparkContext._jsc.sc()
    run_job = FrontierEngine.run_job

    def traced_run_job(self, job_id, seed_url, depth, max_rounds=None, on_round=None):
        if not tracer.enabled:
            return run_job(self, job_id, seed_url, depth, max_rounds=max_rounds, on_round=on_round)
        rec = {"rounds": [], "jobs": []}
        mark = [time.perf_counter(), jsc.dagScheduler().numTotalJobs()]

        def hook(stats):
            now, n = time.perf_counter(), jsc.dagScheduler().numTotalJobs()
            rec["rounds"].append(stats)
            rec["jobs"].append(n - mark[1])
            tracer.add_span("frontier.round", mark[0], now)
            mark[:] = [now, n]
            if on_round is not None:
                on_round(stats)

        with tracer.span("frontier.run_job"):
            t0 = time.perf_counter()
            out = run_job(self, job_id, seed_url, depth, max_rounds=max_rounds, on_round=hook)
            rec["wall_ms"] = _ms(t0)
        calls.append(rec)
        return out

    tracer.patch(FrontierEngine, "run_job", traced_run_job)
    tracer.wrap(FrontierEngine, "unsee_urls", "frontier.unsee_urls")
    tracer.wrap(FrontierEngine, "compact_seen", "frontier.compact_seen")
    tracer.wrap(JobStateStore, "commit_round", "catalog.commit_round")
    tracer.wrap(JobStateStore, "read_commit", "catalog.read_commit")
    tracer.wrap(JobStateStore, "vacuum", "catalog.vacuum")
    tracer.wrap(JobLedger, "submit", "ledger.submit")
    tracer.wrap(JobLedger, "acquire", "ledger.acquire")
    tracer.wrap(JobLedger, "complete", "ledger.complete")
    tracer.wrap(JobCache, "put_if_deeper", "cache.put")
    tracer.wrap(
        JobCache, "get", "cache.get",
        on_result=lambda out: tracer.count("cache.hit" if out is not None else "cache.miss"),
    )
    return calls


# ---------------------------------------------------------------- probes

def _frontier(engine: FrontierEngine, job: str, depth: int):
    return engine.results_df(job).filter(F.col("depth") == depth).select("url")


def _admitted(frontier):
    idx = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    return frontier.select(
        "url",
        F.format_string("img%08d", idx).alias("image_id"),
        F.pmod(idx, F.lit(C.N_BUCKETS)).cast("int").alias("corpus_bucket"),
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_fetch(ctx, engine, job) -> dict:
    spark, spec = ctx.spark, engine.spec
    admitted = _admitted(_frontier(engine, job, 1)).cache()
    n = admitted.count()
    ok = F.col("pixels_ok") & F.col("phash_ok") & F.col("caption_ok")
    with ctx.tracer.span("probe.fetch_and_verify"):
        t0 = time.perf_counter()
        fails = (
            fetch_and_verify(spark, engine.corpus_path, admitted, spec)
            .agg(F.sum((~ok).cast("int")).alias("fails"))
            .collect()[0]["fails"]
        )
        verify_ms = _ms(t0)
    admitted.unpersist()
    # the kernel alone, on a seeded sample of generated rows
    rng = np.random.default_rng([ctx.seed, 5])
    rows = [C.make_row(int(i), spec) for i in rng.choice(spec.n, 256, replace=False)]
    urls = np.array([C.url_of(C.page_index(r["image_id"]), spec) for r in rows])
    args = (
        urls, [r["bytes"] for r in rows], np.array([r["fmt"] for r in rows]),
        np.array([r["caption"] for r in rows]), np.array([r["phash"] for r in rows]), spec,
    )
    per_row = []
    with ctx.tracer.span("probe.verify_batch"):
        for _ in range(5):
            t0 = time.perf_counter()
            verify_batch(*args)
            per_row.append(_ms(t0) * 1000 / len(rows))
    return {
        "fetch.verify_ms": verify_ms,
        "fetch.verify_rows_per_s": n / (verify_ms / 1000),
        "fetch.verify_fail_rows": fails,
        "images.verify_us_per_row": statistics.median(per_row),
    }


def probe_extract(ctx, engine, job) -> dict:
    frontier = _frontier(engine, job, 1).cache()
    pages = frontier.count()
    with ctx.tracer.span("probe.extract_links"):
        t0 = time.perf_counter()
        links = extract_links(frontier, engine.spec).count()
        ms = _ms(t0)
    frontier.unpersist()
    return {"extract.ms": ms, "extract.links_per_page": links / max(pages, 1)}


def probe_bloom(ctx, engine, job) -> dict:
    """Replays the depth-2 round's seen-set probe: the out-links of the
    depth-1 pages against the Bloom blobs and the exact seen set as
    committed by round 1 (the round that admitted depth 0)."""
    spark, cfg, store = ctx.spark, engine.cfg, engine.store(job)
    pages = _frontier(engine, job, 1).toPandas()["url"].to_numpy()
    parent_idx = np.array([C.index_of_url(u) for u in pages], np.int64)
    _, targets = C.out_links_batch(parent_idx, engine.spec)
    cand = spark.createDataFrame(pd.DataFrame({"url": urls_of(np.unique(targets), engine.spec)}))
    cand_h = cand.select(U.url_hash(U.canonicalize(F.col("url"))).alias("h")).toPandas()["h"]
    cand_h = cand_h.to_numpy(np.int64)
    seen_h = engine.seen_df_at(job, 1).select("url_hash").toPandas()["url_hash"].to_numpy(np.int64)
    blobs = store.bloom_blobs(1)
    buckets = np.mod(cand_h, cfg.seen_buckets)
    probe_ns = add_ns = 0.0
    positive = np.zeros(len(cand_h), bool)
    with ctx.tracer.span("probe.bloom"):
        for b in np.unique(buckets):
            sel = buckets == b
            filt = B.load_blobs(blobs.get(int(b)), cfg.bloom)
            t0 = time.perf_counter_ns()
            positive[sel] = B.contains(filt, cand_h[sel], cfg.bloom)
            probe_ns += time.perf_counter_ns() - t0
            t0 = time.perf_counter_ns()
            B.add_hashes(filt.copy(), cand_h[sel], cfg.bloom)
            add_ns += time.perf_counter_ns() - t0
    n_pos = int(positive.sum())
    false_pos = int((positive & ~np.isin(cand_h, seen_h)).sum())
    return {
        "bloom.probe_ns_per_key": probe_ns / max(len(cand_h), 1),
        "bloom.add_ns_per_key": add_ns / max(len(cand_h), 1),
        "bloom.positive_ratio": n_pos / max(len(cand_h), 1),
        "bloom.fp_ratio": false_pos / max(n_pos, 1),
    }


def probe_politeness(ctx, engine, job) -> dict:
    pending = (
        _frontier(engine, job, 1)
        .withColumn("host", U.host_of(F.col("url")))
        .withColumn("url_hash", U.url_hash(F.col("url")))
        .withColumn("depth", F.lit(1))
        .cache()
    )
    pending.count()
    persisted: list = []
    with ctx.tracer.span("probe.schedule"):
        t0 = time.perf_counter()
        admitted, scheduled = schedule(pending, PolitenessPolicy(), persisted=persisted)
        _noop(admitted)
        _noop(scheduled)
        ms = _ms(t0)
    for df in persisted + [pending]:
        df.unpersist()
    return {"politeness.schedule_ms": ms}


def probe_mutation(ctx, engine, job) -> dict:
    """Seen-set count, compaction, unsee and vacuum on the reference job,
    last because they change its state. Their timings come from spans."""
    with ctx.tracer.span("probe.seen_count"):
        t0 = time.perf_counter()
        n_seen = engine.seen_df(job).count()
        count_ms = _ms(t0)
    engine.compact_seen(job)
    urls = _frontier(engine, job, 1).orderBy("url").limit(16).toPandas()["url"].tolist()
    engine.unsee_urls(job, urls)
    store = engine.store(job)
    store.vacuum()
    size = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(store.dir) for f in fs
    )
    return {"frontier.seen_count_ms": count_ms, "catalog.bytes_per_url": size / max(n_seen, 1)}


def probe_ledger(ctx, warehouse: str) -> None:
    """Ledger and cache calls on their own, for a workload that does not go
    through ``CrawlService``: eight jobs submitted, acquired and completed,
    their results cached and read back once each, plus eight misses."""
    ledger, cache = JobLedger(warehouse), JobCache(warehouse)
    with ctx.tracer.span("probe.ledger"):
        for k in range(8):
            ledger.submit(f"P{k}", "client0", f"http://h0000.test/p/{k}", 1 + k % 3)
        for k in range(8):
            job = ledger.acquire("probe")
            cache.put_if_deeper(job["seed_url"], int(job["depth"]), [[job["seed_url"]]])
            ledger.complete(job["job_id"])
        for k in range(8):
            cache.get(f"http://h0000.test/p/{k}", 1)
            cache.get(f"http://h0000.test/p/{k + 100}", 1)


def time_queries(ctx) -> tuple[dict, dict]:
    """Every bench_queries() leaf once, in a seed-permuted order, results
    collected into pandas. Returns the metrics and the result frames."""
    spark, tracer = ctx.spark, ctx.tracer
    leaves = Q.bench_queries()
    names = sorted(leaves)
    np.random.default_rng([ctx.seed, 6]).shuffle(names)
    frames, metrics = {}, {}
    cpu0 = ctx.sampler.cpu_s()
    for name in names:
        spark.sparkContext.setJobDescription(f"perfbench query {name}")
        with tracer.span(f"query.{name}"):
            t0 = time.perf_counter()
            frames[name] = leaves[name](spark, QUERY_DATA).toPandas()
            metrics[f"query.{name}_s"] = time.perf_counter() - t0
        spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(None)
    metrics["query.suite_s"] = sum(metrics.values())
    metrics["query.suite_cpu_s"] = ctx.sampler.cpu_s() - cpu0
    return metrics, frames


def check_queries(frames: dict) -> list[str]:
    """The leaves that are the very function queries() registers under a
    name with an oracle_sql() entry, compared with DuckDB by ``_canon_hash``
    from tests/test_queries_vs_duckdb.py (as scripts/oracle_sweep.py does)."""
    import duckdb

    from tests.test_queries_vs_duckdb import _canon_hash

    leaves, checked, oracles = Q.bench_queries(), Q.queries(), Q.oracle_sql()
    errs = []
    con = duckdb.connect()
    try:
        for t in QUERY_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{QUERY_DATA}/{t}.parquet'")
        for name, spdf in frames.items():
            if checked.get(name) is not leaves[name] or name not in oracles:
                continue
            opdf = con.sql(oracles[name]).fetchdf()
            ok = sorted(spdf.columns) == sorted(opdf.columns) and len(spdf) == len(opdf)
            if not (ok and _canon_hash(spdf) == _canon_hash(opdf)):
                errs.append(f"query {name}: result differs from its DuckDB oracle")
    finally:
        con.close()
    return errs


def instrument_cost_s(ctx, calls: list[dict]) -> float:
    """Time the traced jobs spent in the instrumentation itself: spans
    recorded inside jobs times the cost of one span, plus the round hooks'
    calls into the JVM times the cost of one such call."""
    calib, n = Tracer(), 2000
    calib.enabled = True
    t0 = time.perf_counter()
    for _ in range(n):
        with calib.span("calibrate"):
            pass
    span_s = (time.perf_counter() - t0) / n
    jsc = ctx.spark.sparkContext._jsc.sc()
    t0 = time.perf_counter()
    for _ in range(50):
        jsc.dagScheduler().numTotalJobs()
    jvm_call_s = (time.perf_counter() - t0) / 50
    n_spans = sum(1 for s in ctx.tracer.spans if s["job"])
    n_marks = sum(len(c["rounds"]) + 1 for c in calls)
    return n_spans * span_s + n_marks * jvm_call_s


# ---------------------------------------------------------------- fold

def layer_metrics(tracer, calls: list[dict], n_jobs: int) -> dict:
    calls = [c for c in calls if c["rounds"]]
    round_ms = [r.wall_ms for c in calls for r in c["rounds"]]
    sub_rounds = [len({(r.depth, r.sub_round) for r in c["rounds"]}) for c in calls]
    commit = tracer.durations_ms("catalog.commit_round")
    gets = tracer.counts.get("cache.hit", 0) + tracer.counts.get("cache.miss", 0)
    self_ms = tracer.self_times_ms()
    m = {
        "frontier.round_ms_sum": median(sum(r.wall_ms for r in c["rounds"]) for c in calls),
        "frontier.round_ms_p50": median(round_ms),
        "frontier.rounds_per_job": statistics.mean(len(c["rounds"]) for c in calls),
        "frontier.tail_ms": median(c["wall_ms"] - sum(r.wall_ms for r in c["rounds"]) for c in calls),
        "frontier.spark_jobs_per_round": median(j for c in calls for j in c["jobs"]),
        "frontier.run_job_self_ms": self_ms.get("frontier.run_job", 0.0) / max(len(calls), 1),
        "frontier.unsee_ms": median(tracer.durations_ms("frontier.unsee_urls")),
        "frontier.compact_seen_ms": median(tracer.durations_ms("frontier.compact_seen")),
        "politeness.sub_rounds_per_job": statistics.mean(sub_rounds),
        "catalog.commit_ms_p50": median(commit),
        "catalog.commits_per_job": sum(1 for s in tracer.by_name("catalog.commit_round") if s["job"])
        / max(n_jobs, 1),
        "catalog.read_commit_ms": median(tracer.durations_ms("catalog.read_commit")),
        "catalog.vacuum_ms": median(tracer.durations_ms("catalog.vacuum")),
        "ledger.submit_ms": median(tracer.durations_ms("ledger.submit")),
        "ledger.acquire_ms": median(tracer.durations_ms("ledger.acquire")),
        "ledger.complete_ms": median(tracer.durations_ms("ledger.complete")),
        "cache.get_ms": median(tracer.durations_ms("cache.get")),
        "cache.put_ms": median(tracer.durations_ms("cache.put")),
        "cache.hit_ratio": tracer.counts.get("cache.hit", 0) / max(gets, 1),
    }
    return m


def probe_layers(ctx, workload, warehouse: str) -> dict:
    """Each layer called on its own, on the workload's reference job."""
    engine, job = workload.engine, workload.reference_job()
    m = {}
    for probe in (probe_fetch, probe_extract, probe_bloom, probe_politeness, probe_mutation):
        m.update(probe(ctx, engine, job))
    if not ctx.tracer.by_name("ledger.submit"):
        probe_ledger(ctx, os.path.join(warehouse, "ledger_probe"))
    return m
