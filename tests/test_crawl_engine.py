"""Engine ↔ oracle equivalence (SURVEY.md §5.1): per-depth URL sets are
compared order-insensitively within a depth and ordered across depths; the
seen set and the per-(depth, sub-round) politeness schedule must match
exactly. Also covers resume (W2) and payload verification (input_hint)."""

import pytest

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.oracle.crawler import (
    PolitenessPolicy,
    RobotsPolicy,
    crawl,
)
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine


def pick_seed(spec, min_degree=3, skip=0):
    found = 0
    for i in range(spec.n):
        if len(C.out_links(i, spec)) >= min_degree:
            if found == skip:
                return i
            found += 1
    raise AssertionError


def engine_for(spark, tmp_path, corpus, cfg=None):
    spec, path = corpus
    return FrontierEngine(spark, str(tmp_path / "wh"), path, spec, cfg)


def assert_matches_oracle(engine, job_id, seed_i, depth, oracle_res, spec, check_schedule=False):
    payload = engine.client_payload(job_id, depth)
    assert payload == oracle_res.levels_sorted()
    seen = {r["url"] for r in engine.seen_df(job_id).collect()}
    assert seen == oracle_res.seen
    if check_schedule:
        m = engine.metrics_df(job_id).orderBy("round").collect()
        got = [(r["depth"], r["sub_round"], r["n_admitted"]) for r in m]
        want = [(d, s, len(urls)) for d, s, urls in oracle_res.schedule]
        assert got == want


@pytest.mark.parametrize("depth", [1, 2, 3])
def test_plain_bfs_matches_oracle(spark, corpus_1k, tmp_path, depth):
    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    eng = engine_for(spark, tmp_path, corpus_1k, EngineConfig(use_bloom=False))
    s = eng.run_job(f"plain{depth}", C.url_of(seed_i, spec), depth)
    assert s["done"]
    assert_matches_oracle(eng, f"plain{depth}", seed_i, depth, crawl(seed_i, depth, spec), spec)


def test_bloom_path_matches_exact(spark, corpus_1k, tmp_path):
    from distributed_web_crawler_spark.functions.bloom import BloomParams

    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    # tiny filters force false positives → exact re-check must rescue them
    cfg = EngineConfig(use_bloom=True, seen_buckets=8, bloom=BloomParams(n_bits=1 << 10, n_hashes=3))
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    s = eng.run_job("bloom", C.url_of(seed_i, spec), 3)
    assert s["done"]
    assert_matches_oracle(eng, "bloom", seed_i, 3, crawl(seed_i, 3, spec), spec)


def test_politeness_schedule_matches_oracle(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    pol = PolitenessPolicy(round_duration_ms=4000)
    seed_i = pick_seed(spec)
    cfg = EngineConfig(politeness=pol, use_bloom=False)
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    eng.run_job("pol", C.url_of(seed_i, spec), 3)
    assert_matches_oracle(
        eng, "pol", seed_i, 3, crawl(seed_i, 3, spec, politeness=pol), spec, check_schedule=True
    )


def test_robots_matches_oracle(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    rob = RobotsPolicy()
    seed_i = pick_seed(spec)
    cfg = EngineConfig(robots=rob, use_bloom=False)
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    eng.run_job("rob", C.url_of(seed_i, spec), 3)
    o = crawl(seed_i, 3, spec, robots=rob)
    assert_matches_oracle(eng, "rob", seed_i, 3, o, spec)
    m = eng.metrics_df("rob").orderBy("round").collect()
    assert sum(r["n_blocked"] for r in m) == o.n_blocked
    # n_candidates is always counted: a round's distinct, not-blocked link
    # targets (seen or not); the last depth extracts nothing
    want = [
        0 if d + 1 >= 3 else len({
            t for u in urls for t in C.out_links(C.index_of_url(u), spec)
            if not rob.blocked(t, spec)
        })
        for d, _sub, urls in o.schedule
    ]
    assert [r["n_candidates"] for r in m] == want
    assert all(r["n_candidates"] >= 0 and r["n_blocked"] >= 0 for r in m)


def test_robots_blocked_count_deep(spark, corpus_1k, tmp_path):
    """Regression (ADVICE r1): n_blocked must be multiplicity-preserving —
    a blocked URL discovered twice within one round counts twice, like the
    oracle's per-occurrence check (oracle/crawler.py:141-147). The depth-3
    fixture has no within-round duplicate of a blocked URL; depth 6 from
    seed 1 does, and diverged before the fix (oracle 3 vs engine 2)."""
    spec, _ = corpus_1k
    rob = RobotsPolicy()
    eng = engine_for(spark, tmp_path, corpus_1k, EngineConfig(robots=rob, use_bloom=False))
    eng.run_job("robd", C.url_of(1, spec), 6)
    o = crawl(1, 6, spec, robots=rob)
    assert_matches_oracle(eng, "robd", 1, 6, o, spec)
    total_blocked = sum(r["n_blocked"] for r in eng.metrics_df("robd").collect())
    assert total_blocked == o.n_blocked


def test_resume_after_crash_before_first_commit(spark, corpus_1k, tmp_path):
    """Regression (ADVICE r1): a crash BETWEEN the round-0 staging writes and
    commit_round(0) must not wedge the job — resume drops the uncommitted r0
    dir instead of failing the seed write with path-already-exists."""
    import os

    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    eng = engine_for(spark, tmp_path, corpus_1k, EngineConfig(use_bloom=False))
    store = eng.store("crash0")
    os.makedirs(store.round_dir(0), exist_ok=True)
    spark.createDataFrame([(C.url_of(seed_i, spec),)], "url string").write.parquet(
        store.new_path(0)
    )
    assert store.last_committed() is None  # staged but never committed
    s = eng.run_job("crash0", C.url_of(seed_i, spec), 2)
    assert s["done"]
    assert_matches_oracle(eng, "crash0", seed_i, 2, crawl(seed_i, 2, spec), spec)


def test_full_stack_matches_oracle(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    pol, rob = PolitenessPolicy(), RobotsPolicy()
    seed_i = pick_seed(spec, skip=1)
    cfg = EngineConfig(politeness=pol, robots=rob, use_bloom=True, seen_buckets=16)
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    eng.run_job("full", C.url_of(seed_i, spec), 3)
    o = crawl(seed_i, 3, spec, politeness=pol, robots=rob)
    assert_matches_oracle(eng, "full", seed_i, 3, o, spec, check_schedule=True)


def test_resume_mid_crawl(spark, corpus_1k, tmp_path):
    """W2: kill after round r's commit, restart, final state identical."""
    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    cfg = EngineConfig(use_bloom=True, seen_buckets=8)
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    s1 = eng.run_job("res", C.url_of(seed_i, spec), 3, max_rounds=1)
    assert not s1["done"]
    s2 = eng.run_job("res", C.url_of(seed_i, spec), 3)  # resume
    assert s2["done"] and s2["last_round"] > s1["last_round"]
    assert_matches_oracle(eng, "res", seed_i, 3, crawl(seed_i, 3, spec), spec)


def test_payload_verification(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    cfg = EngineConfig(use_bloom=False, verify_payloads=True)
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    eng.run_job("pay", C.url_of(seed_i, spec), 2)
    store = eng.store("pay")
    stats = [store.read_commit(r).get("payload") for r in store.committed_rounds()]
    stats = [s for s in stats if s]
    assert stats, "payload stats recorded"
    for s in stats:
        assert s["n"] == s["n_pixels_ok"] == s["n_phash_ok"] == s["n_caption_ok"]
        assert s["min_psnr"] >= 40.0


def test_malformed_seed_completes_with_seed_only(spark, corpus_1k, tmp_path):
    """A seed outside the corpus URL scheme must not crash (ANSI casts on
    the host/page regexes yield NULL via try_cast, falling through robots
    and getting politeness budget 1): the job completes with only the seed
    seen and no extracted links."""
    spec, _ = corpus_1k
    from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy

    cfg = EngineConfig(politeness=PolitenessPolicy(), robots=RobotsPolicy(), use_bloom=True)
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    s = eng.run_job("mal", "http://nonsense.example/xyz", 2)
    assert s["done"] and s["n_seen"] == 1
    assert eng.client_payload("mal", 2) == [["http://nonsense.example/xyz"], []]
    # a malformed URL whose PATH matches a disallow prefix: the NULL host
    # must coalesce to not-blocked, not to a silently-dropped NULL row
    s2 = eng.run_job("mal2", "http://nonsense.example/p/33", 2)
    assert s2["done"] and s2["n_seen"] == 1
    assert eng.client_payload("mal2", 2) == [["http://nonsense.example/p/33"], []]


def test_blocked_seed_yields_empty_job(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    rob = RobotsPolicy()
    blocked = [i for i in range(spec.n) if rob.blocked(i, spec)]
    if not blocked:
        pytest.skip("no blocked page at this corpus size")
    eng = engine_for(spark, tmp_path, corpus_1k, EngineConfig(robots=rob, use_bloom=False))
    s = eng.run_job("blk", C.url_of(blocked[0], spec), 2)
    assert s["done"] and s["n_seen"] == 0


def test_fused_dedup_across_arrow_batches(spark, corpus_1k, tmp_path):
    """The probe task dedups with a running per-partition hash set that
    must survive ARROW BATCH boundaries (maxRecordsPerBatch=2048): a
    candidate set with every URL duplicated many times — large enough
    that one partition spans several batches — must come out exactly
    distinct, with seen URLs removed and unseen kept (fixtures keep the
    candidate sets far below one batch, so this path is otherwise
    untested until production scale)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from distributed_web_crawler_spark.fixtures import corpus as C
    from distributed_web_crawler_spark.functions import urls as U
    from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine

    spec, path = corpus_1k
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec, EngineConfig(use_bloom=True, seen_buckets=8)
    )
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3)
    eng.run_job("fb", C.url_of(seed_i, spec), 2)
    store = eng.store("fb")
    seen_urls = {r["url"] for r in eng.seen_df("fb").collect()}
    assert len(seen_urls) >= 4

    # 600 distinct URLs (some seen, some not) x 12 copies = 7200 rows in
    # ONE partition -> >3 Arrow batches through the probe task
    distinct_urls = sorted(seen_urls) + [C.url_of(i, spec) for i in range(600 - len(seen_urls))]
    distinct_urls = sorted(set(distinct_urls))
    keyed = (
        spark.createDataFrame(pd.DataFrame({"url": distinct_urls * 12}))
        .withColumn("host", U.host_of(F.col("url")))
        .withColumn("url_hash", U.url_hash(F.col("url")))
        .withColumn("seen_bucket", U.seen_bucket(F.col("url_hash"), 8))
        .coalesce(1)
    )
    fresh, deduped = eng._filter_new(store, keyed)
    got = [r["url"] for r in fresh.collect()]
    assert len(got) == len(set(got)), "duplicates leaked across Arrow batches"
    assert set(got) == set(distinct_urls) - seen_urls
    assert deduped.count() == len(distinct_urls)


def test_pipelined_verify_same_stats_and_results(spark, corpus_1k, tmp_path):
    """pipeline_verify is accepted and ignored: every round verifies its
    payloads in-round and commits the stats in its own commit.json, so the
    flag — and a max_rounds=1 cut followed by a resume — give the default
    engine's stats and results."""
    import os

    spec, _ = corpus_1k
    seed_url = C.url_of(pick_seed(spec), spec)
    mk = lambda sub, **kw: engine_for(  # noqa: E731
        spark, tmp_path / sub, corpus_1k, EngineConfig(use_bloom=True, verify_payloads=True, **kw)
    )
    sync, piped = mk("a"), mk("b", pipeline_verify=True)
    rs = sync.run_job("pay", seed_url, 3)
    rp = piped.run_job("pay", seed_url, 3)
    assert rp["done"] and rp["n_seen"] == rs["n_seen"]
    assert sync.client_payload("pay", 3) == piped.client_payload("pay", 3)

    ss = sync.payload_stats("pay")
    assert ss and piped.payload_stats("pay") == ss  # same rounds, counts and PSNR
    for s in ss.values():
        assert s["n"] == s["n_pixels_ok"] == s["n_phash_ok"] == s["n_caption_ok"]
        assert s["min_psnr"] >= 40.0
    # the stats ride in every admitting round's commit.json; no sidecar
    store = piped.store("pay")
    for r in store.committed_rounds():
        info = store.read_commit(r)
        assert ("payload" in info) == (info.get("n_admitted", 0) > 0)
        assert not os.path.exists(os.path.join(store.round_dir(r), "verify.json"))

    cut = mk("c", pipeline_verify=True)
    cut.run_job("res", seed_url, 3, max_rounds=1)
    assert list(cut.payload_stats("res")) == [1]
    cut.run_job("res", seed_url, 3)
    assert cut.payload_stats("res") == ss


def test_pipelined_verify_with_politeness_subrounds(spark, corpus_1k, tmp_path):
    """The accepted-and-ignored pipeline_verify flag must also leave a
    politeness sub-round drain (many small rounds, verify per admitted
    slice) unchanged: per-round stats equal the default's and the crawl
    matches the oracle."""
    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    pol = PolitenessPolicy()
    mk = lambda sub, pv: engine_for(  # noqa: E731
        spark, tmp_path / sub, corpus_1k,
        EngineConfig(politeness=pol, use_bloom=True, verify_payloads=True, pipeline_verify=pv),
    )
    sync, piped = mk("a", False), mk("b", True)
    rs = sync.run_job("p", C.url_of(seed_i, spec), 2)
    rp = piped.run_job("p", C.url_of(seed_i, spec), 2)
    assert rp["done"] and rp["n_seen"] == rs["n_seen"]
    assert piped.payload_stats("p") == sync.payload_stats("p")
    want = crawl(seed_i, 2, spec, politeness=pol)
    assert piped.client_payload("p", 2) == want.levels_sorted()
