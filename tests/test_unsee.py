"""unsee_urls / recrawl — the seen table's equality-delete path.

The reference's only forget mechanism is Redis cache-TTL expiry
(RedisCache/cache.go:55-72): wait for the whole seed's entry to expire,
then re-crawl everything. On the persistent 10^10-row seen table the
analog is a targeted merge-on-read delete: one committed tombstone round
suppresses older seen rows at read time (both in the DataFrame view and
in the probe's numpy exact re-check), the Bloom filter stays
stale-positive and is rescued by the exact re-check, compaction folds
the deletes physically, vacuum reclaims the delete files, and `reseed=True` re-enters the URLs at their ORIGINAL
depths in the same atomic commit so a resume re-fetches their payloads
without disturbing the client payload's depth structure."""

import pandas as pd
import pytest

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
from distributed_web_crawler_spark.plans.ledger import CrawlService, JobCache, JobLedger


def _engine(spark, corpus_1k, tmp_path, **cfg):
    spec, path = corpus_1k
    kw = dict(use_bloom=True, seen_buckets=8, compact_seen_every=None)
    kw.update(cfg)
    eng = FrontierEngine(spark, str(tmp_path / "wh"), path, spec, EngineConfig(**kw))
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3)
    return eng, spec, seed_i


def _seen_rows(eng, job):
    return sorted(
        (r["url_hash"], r["url"], r["depth"]) for r in eng.seen_df(job).collect()
    )


def _pick_victims(rows, k=3):
    """Non-seed URLs spread across depths (incl. the deepest)."""
    by_depth = {}
    for h, u, d in rows:
        if d > 0:
            by_depth.setdefault(d, []).append(u)
    out = []
    for d in sorted(by_depth, reverse=True):
        out.extend(sorted(by_depth[d])[:1])
        if len(out) >= k:
            break
    while len(out) < k:
        out.append(sorted(by_depth[max(by_depth)])[1])
    return out[:k]


# `bloom` probes through the Bloom blobs plus the exact re-check; `exact`
# (use_bloom=False) probes the seen table alone.
SEEN_PROBES = [pytest.param(True, id="bloom"), pytest.param(False, id="exact")]


@pytest.mark.parametrize("use_bloom", SEEN_PROBES)
def test_unsee_suppresses_everywhere(spark, corpus_1k, tmp_path, use_bloom):
    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path, use_bloom=use_bloom)
    eng.run_job("u1", C.url_of(seed_i, spec), 3)
    before = _seen_rows(eng, "u1")
    victims = _pick_victims(before)

    res = eng.unsee_urls("u1", victims)
    assert res["n_unseen"] == len(victims) and res["n_reseeded"] == 0
    after = _seen_rows(eng, "u1")
    assert sorted(u for _h, u, _d in before) == sorted(
        [u for _h, u, _d in after] + victims
    )

    # idempotent: the gate is the (already suppressed) exact seen view
    assert eng.unsee_urls("u1", victims)["n_unseen"] == 0
    # unknown URLs are never tombstoned (the gate is the exact seen table)
    assert eng.unsee_urls("u1", ["https://crawl.test/nope/x"])["n_unseen"] == 0

    # the PROBE view agrees with the DataFrame view: unseen URLs come back
    # fresh, still-seen URLs stay filtered — this exercises the numpy
    # bucket_seen suppression and, with Bloom on, the stale-positive rescue
    store = eng.store("u1")
    still = [u for _h, u, _d in after][:3]
    keyed = eng._with_keys(
        spark.createDataFrame(pd.DataFrame({"url": victims + still}))
    )
    fresh, _ = eng._filter_new(store, keyed)
    assert sorted(r["url"] for r in fresh.collect()) == sorted(victims)

    # physical plan: the merge-on-read suppression must BROADCAST the
    # delete side into a LeftAnti hash join — at 10^10 rows a shuffled
    # anti-join would move the whole seen table for a recrawl-list edit
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        eng.seen_df("u1").explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize("use_bloom", SEEN_PROBES)
def test_unsee_reseed_recrawls_at_original_depths(spark, corpus_1k, tmp_path, use_bloom):
    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path, use_bloom=use_bloom)
    seed = C.url_of(seed_i, spec)
    eng.run_job("u3", seed, 3)
    before = _seen_rows(eng, "u3")
    payload_before = eng.client_payload("u3", 3)
    victims = _pick_victims(before)

    res = eng.unsee_urls("u3", victims, reseed=True)
    assert res["n_unseen"] == len(victims) == res["n_reseeded"]
    # atomic round: tombstone + reseed committed together; the reseed delta
    # survives its own round's tombstone (strict t > c rule), so the seen
    # URL SET is already restored before any drain...
    assert sorted(u for _h, u, _d in _seen_rows(eng, "u3")) == sorted(
        u for _h, u, _d in before
    )
    # ...and the resume drains the reseeded frontier back to a fixpoint
    summary = eng.run_job("u3", seed, 3)
    assert summary["done"]
    # depth structure is PRESERVED (reseed at original depths): the full
    # (hash, url, depth) row set matches the original crawl exactly
    assert _seen_rows(eng, "u3") == before
    assert eng.client_payload("u3", 3) == payload_before


def test_compaction_folds_tombstones_and_vacuum_reclaims(spark, corpus_1k, tmp_path):
    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path)
    eng.run_job("u4", C.url_of(seed_i, spec), 3)
    victims = _pick_victims(_seen_rows(eng, "u4"))
    eng.unsee_urls("u4", victims)
    store = eng.store("u4")
    suppressed = _seen_rows(eng, "u4")
    assert len(store.tombstone_components()) == 1

    res = eng.compact_seen("u4")
    assert res["compacted"]
    # physically folded: the delete files no longer participate in reads
    assert store.tombstone_components() == []
    assert _seen_rows(eng, "u4") == suppressed

    stats = store.vacuum(staging_age_s=0.0)
    assert stats["covered_tombstones"] == 1
    assert _seen_rows(eng, "u4") == suppressed

    # a single-component store WITH live tombstones still compacts (the
    # early-return guard must not strand delete files forever)
    eng.compact_seen("u4")
    victims2 = _pick_victims(_seen_rows(eng, "u4"))
    eng.unsee_urls("u4", victims2)
    assert len(store.seen_paths()) == 1 and store.tombstone_components()
    assert eng.compact_seen("u4")["compacted"]
    assert store.tombstone_components() == []


def test_unsee_matching_predicate_delete(spark, corpus_1k, tmp_path):
    """DELETE FROM seen WHERE ... — predicate deletes evaluated over the
    suppressed view, with the same atomic reseed path. Host-granularity
    recrawl is the target scenario (a host's content changed)."""
    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path)
    seed = C.url_of(seed_i, spec)
    eng.run_job("u7", seed, 3)
    before = {(r["url"], r["depth"]) for r in eng.seen_df("u7").collect()}
    # pick the host with the most non-seed rows
    from collections import Counter

    host_counts = Counter(
        u.split("//", 1)[1].split("/", 1)[0] for u, d in before if d > 0
    )
    host, n_host = host_counts.most_common(1)[0]
    pred = f"url LIKE 'http://{host}/%' AND depth > 0"

    res = eng.unsee_matching("u7", pred)
    assert res["n_unseen"] == n_host and res["n_reseeded"] == 0
    left = {(r["url"], r["depth"]) for r in eng.seen_df("u7").collect()}
    assert left == {(u, d) for u, d in before if not (u.startswith(f"http://{host}/") and d > 0)}
    # idempotent over the suppressed view
    assert eng.unsee_matching("u7", pred)["n_unseen"] == 0

    # predicate unsee with reseed on a second job: full fixpoint restore
    eng.run_job("u8", seed, 3)
    before8 = {(r["url"], r["depth"]) for r in eng.seen_df("u8").collect()}
    res = eng.unsee_matching("u8", pred, reseed=True)
    assert res["n_unseen"] == n_host == res["n_reseeded"]
    assert eng.run_job("u8", seed, 3)["done"]
    assert {(r["url"], r["depth"]) for r in eng.seen_df("u8").collect()} == before8


def test_unsee_crash_before_commit_is_swept(spark, corpus_1k, tmp_path):
    """A death between the tombstone/reseed staging writes and commit_round
    leaves an uncommitted round dir; the next unsee (or resume) must sweep
    it via abort_round and redo the operation cleanly — the same crash
    contract as a crawl round."""
    import os

    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path)
    eng.run_job("u6", C.url_of(seed_i, spec), 3)
    before = _seen_rows(eng, "u6")
    victims = _pick_victims(before)
    store = eng.store("u6")
    r = store.last_committed() + 1

    # simulate the crash: staged tombstone files exist, no commit.json
    # (build the staged write exactly like unsee_urls would)
    from pyspark.sql import functions as F

    seen = eng._seen_df(store)
    tomb = (
        eng._with_keys(spark.createDataFrame(pd.DataFrame({"url": victims})))
        .join(seen.select("url_hash", "depth"), "url_hash", "inner")
        .withColumn("host", F.lit("h"))
        .select("url", "host", "url_hash", "seen_bucket", "depth")
    )
    eng._write_bucketed(store, store.tombstones_path(r), tomb)
    assert os.path.isdir(store.tombstones_path(r))
    assert store.last_committed() == r - 1  # nothing committed
    # uncommitted staging must NOT suppress anything
    assert _seen_rows(eng, "u6") == before

    res = eng.unsee_urls("u6", victims)  # sweeps the crashed dir, redoes
    assert res["round"] == r and res["n_unseen"] == len(victims)
    assert sorted(u for _h, u, _d in _seen_rows(eng, "u6")) == sorted(
        set(u for _h, u, _d in before) - set(victims)
    )


def _fold_changes(rows, state=None):
    """Consumer contract: rounds ascending, deletes before inserts."""
    state = dict(state or {})
    by_round = {}
    for r in rows:
        by_round.setdefault(r["round"], []).append(r)
    for rnd in sorted(by_round):
        for row in by_round[rnd]:
            if row["change_type"] == "delete":
                state.pop(row["url"], None)
        for row in by_round[rnd]:
            if row["change_type"] == "insert":
                state[row["url"]] = row["depth"]
    return state


def test_seen_changes_changelog(spark, corpus_1k, tmp_path):
    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path)
    seed = C.url_of(seed_i, spec)
    eng.run_job("u5", seed, 3)
    victims = _pick_victims(_seen_rows(eng, "u5"))
    eng.unsee_urls("u5", victims[:2])  # delete-only round
    store = eng.store("u5")
    ckpt_round = store.last_committed()
    ckpt_state = {r["url"]: r["depth"] for r in eng.seen_df("u5").collect()}
    eng.unsee_urls("u5", [victims[2]], reseed=True)  # delete+insert round
    eng.run_job("u5", seed, 3)

    final = {r["url"]: r["depth"] for r in eng.seen_df("u5").collect()}
    # folding the FULL changelog reproduces the live view exactly
    assert _fold_changes(eng.seen_changes("u5").collect()) == final
    # incremental: fold only the rounds after the checkpoint onto the
    # checkpointed state — same result (the Iceberg incremental-read use)
    inc = eng.seen_changes("u5", from_round=ckpt_round).collect()
    assert {r["round"] for r in inc} and min(r["round"] for r in inc) > ckpt_round
    assert _fold_changes(inc, ckpt_state) == final

    with pytest.raises(ValueError, match="beyond the newest"):
        eng.seen_changes("u5", from_round=store.last_committed() + 1)

    # expiry contract: once compaction folds history and vacuum sweeps the
    # files, a range that needs them raises; a post-compaction start works
    eng.compact_seen("u5")
    store.vacuum(staging_age_s=0.0)
    with pytest.raises(ValueError, match="expired"):
        eng.seen_changes("u5").collect()
    assert eng.seen_changes("u5", from_round=store.last_committed()).count() == 0


def test_time_travel_snapshots(spark, corpus_1k, tmp_path):
    """seen_df_at(r) — Iceberg snapshot reads: every committed round is a
    readable snapshot; compaction alone never expires one (covered files
    survive until vacuum); vacuum expires exactly the snapshots whose
    rounds it swept, while the post-compaction snapshot stays readable."""
    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path)
    seed = C.url_of(seed_i, spec)
    eng.run_job("tt", seed, 3)
    store = eng.store("tt")
    r_crawl = store.last_committed()
    state_crawl = _seen_rows(eng, "tt")

    victims = _pick_victims(state_crawl)
    r_unsee = eng.unsee_urls("tt", victims[:2])["round"]
    state_unsee = _seen_rows(eng, "tt")
    eng.unsee_urls("tt", [victims[2]], reseed=True)
    eng.run_job("tt", seed, 3)
    r_last = store.last_committed()
    state_final = _seen_rows(eng, "tt")

    def snap(r):
        return sorted(
            (x["url_hash"], x["url"], x["depth"]) for x in eng.seen_df_at("tt", r).collect()
        )

    # every intermediate state is reconstructible from its snapshot
    assert snap(r_crawl) == state_crawl
    assert snap(r_unsee) == state_unsee
    assert snap(r_last) == state_final
    with pytest.raises(ValueError, match="not a committed round"):
        eng.seen_df_at("tt", r_last + 1)

    # compaction does not expire snapshots (files still on disk)...
    eng.compact_seen("tt")
    assert snap(r_crawl) == state_crawl and snap(r_unsee) == state_unsee
    assert snap(r_last) == state_final
    # ...vacuum does, except the ones the compaction prefix still serves
    store.vacuum(staging_age_s=0.0)
    assert snap(r_last) == state_final  # served by the compaction (upto == r_last)
    with pytest.raises(ValueError, match="expired"):
        eng.seen_df_at("tt", r_crawl).collect()


def test_seen_round_retention_and_aged_recrawl(spark, corpus_1k, tmp_path):
    """Every seen row carries its DISCOVERY round (`seen_round`),
    cross-checked against the changelog's insert rounds, retained through
    compaction+vacuum (not collapsed to the compaction's upto) — the
    column that makes aged/TTL recrawl a predicate delete."""
    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path)
    seed = C.url_of(seed_i, spec)
    eng.run_job("a1", seed, 3)

    # changelog inserts ARE the discovery rounds — the two views must agree
    expect = {
        r["url"]: r["round"]
        for r in eng.seen_changes("a1").collect()
        if r["change_type"] == "insert"
    }
    live = {r["url"]: r["seen_round"] for r in eng.seen_df("a1").collect()}
    assert live == expect and len(set(live.values())) > 1

    # compaction + vacuum must RETAIN per-row rounds (the folded table
    # persists the column; only pre-column stores coalesce to upto)
    eng.compact_seen("a1")
    eng.store("a1").vacuum(staging_age_s=0.0)
    assert {r["url"]: r["seen_round"] for r in eng.seen_df("a1").collect()} == expect

    # aged recrawl: everything discovered in the first rounds re-crawls
    # as one predicate delete; fixpoint restored after the drain
    cutoff = min(expect.values())
    n_old = sum(1 for v in expect.values() if v <= cutoff)
    before = _seen_rows(eng, "a1")
    res = eng.unsee_matching("a1", f"seen_round <= {cutoff}", reseed=True)
    assert res["n_unseen"] == n_old == res["n_reseeded"]
    assert eng.run_job("a1", seed, 3)["done"]
    assert _seen_rows(eng, "a1") == before
    # the re-crawled rows now carry their NEW discovery round
    new_rounds = {r["url"]: r["seen_round"] for r in eng.seen_df("a1").collect()}
    assert all(new_rounds[u] > cutoff for u, v in expect.items() if v <= cutoff)


def test_reseed_under_politeness_and_robots(spark, corpus_1k, tmp_path):
    """The cursor-reset interplay: a reseed whose depth equals the old
    drain cursor's depth must re-enter cleanly at sub-round 0 and
    re-schedule politeness over the reseed slices (replaying the old
    cursor verbatim would deadlock on the sub-round contiguity check).
    Robots stays enforced on the reseed path."""
    from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy, RobotsPolicy

    spec, path = corpus_1k
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec,
        EngineConfig(use_bloom=True, seen_buckets=8,
                     politeness=PolitenessPolicy(), robots=RobotsPolicy()),
    )
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3)
    seed = C.url_of(seed_i, spec)
    eng.run_job("p1", seed, 3)
    before = _seen_rows(eng, "p1")
    final_depth = eng.store("p1").read_commit(
        eng.store("p1").last_committed()
    )["depth"]
    # victims at the cursor's own depth — the deadlock-prone case
    victims = [u for _h, u, d in before if d == final_depth][:3]
    assert victims
    res = eng.unsee_urls("p1", victims, reseed=True)
    assert res["n_unseen"] == len(victims) == res["n_reseeded"]
    assert eng.run_job("p1", seed, 3)["done"]
    assert _seen_rows(eng, "p1") == before


def test_service_recrawl_refreshes_cache(spark, corpus_1k, tmp_path):
    spec, path = corpus_1k
    wh = str(tmp_path / "wh")
    eng = FrontierEngine(
        spark, wh, path, spec,
        EngineConfig(use_bloom=True, seen_buckets=8),
    )
    svc = CrawlService(engine=eng, ledger=JobLedger(wh), cache=JobCache(wh))
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3)
    seed = C.url_of(seed_i, spec)
    svc.submit("J1", "c1", seed, 3, now=1000.0)

    with pytest.raises(ValueError):
        svc.recrawl("J1", [seed])  # not completed yet

    first = svc.run_next(owner="m1", now=1000.0)
    assert first["done"] and not first["from_cache"]

    victims = _pick_victims(_seen_rows(eng, "J1"))
    out = svc.recrawl("J1", victims, now=2000.0)
    assert out["done"] and out["n_unseen"] == len(victims)
    # the recrawl's payload equals the original (same URLs, same depths)
    # and the cache entry was force-refreshed with it
    assert out["results"] == first["results"]
    assert svc.cache.get(seed, 3, now=2500.0) == first["results"]
    # ownership: the job returns to done, and a job a second master has
    # already reopened is excluded from concurrent recrawl (CAS reopen)
    assert svc.ledger.get("J1")["state"] == "done"
    assert svc.ledger.reopen("J1", "m2", now=3000.0)
    with pytest.raises(ValueError, match="already recrawling|not a completed"):
        svc.recrawl("J1", victims, owner="m3", now=3000.0)
    svc.ledger.complete("J1")


def test_unsee_blobs_keep_every_live_hash(spark, corpus_1k, tmp_path):
    """After an unsee, and again after an unsee with reseed, the committed
    Bloom blobs must contain EVERY live seen hash — the no-false-negative
    invariant the probe relies on when it trusts a negative as new."""
    import numpy as np

    from distributed_web_crawler_spark.functions import bloom as B

    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path)
    eng.run_job("u8", C.url_of(seed_i, spec), 3)
    victims = _pick_victims(_seen_rows(eng, "u8"))
    store = eng.store("u8")

    def assert_live_in_blobs():
        by_bucket: dict = {}
        for r in eng.seen_df("u8").select("url_hash", "seen_bucket").collect():
            by_bucket.setdefault(r["seen_bucket"], []).append(r["url_hash"])
        assert by_bucket
        blobs = store.bloom_blobs()
        for bucket, hashes in by_bucket.items():
            filt = B.load_blobs(blobs.get(bucket), eng.cfg.bloom)
            assert B.contains(filt, np.array(hashes, dtype=np.int64), eng.cfg.bloom).all(), bucket

    assert eng.unsee_urls("u8", victims[:2])["n_unseen"] == 2
    assert_live_in_blobs()
    assert eng.unsee_urls("u8", victims[2:], reseed=True)["n_reseeded"] == 1
    assert_live_in_blobs()


def test_seen_filter_config_is_pinned_per_job(spark, corpus_1k, tmp_path):
    """ADVICE r7: resuming a job store under a different seen-filter
    config silently reinterprets the blob bytes — false negatives
    duplicate crawls with no error. The seed commit records the filter
    identity; resume/unsee under any other kind, params, bucket count, or
    use_bloom raises. A store written by the retired cuckoo filter names
    kind "cuckoo" and must fail the same way."""
    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path)
    eng.run_job("u9", C.url_of(seed_i, spec), 2)

    def resumed(**cfg):
        kw = dict(use_bloom=True, seen_buckets=8, compact_seen_every=None)
        kw.update(cfg)
        return FrontierEngine(
            spark, str(tmp_path / "wh"), corpus_1k[1], spec, EngineConfig(**kw)
        )

    with pytest.raises(ValueError, match="seen-filter config mismatch"):
        resumed(seen_buckets=16).unsee_urls("u9", ["https://crawl.test/x"])
    with pytest.raises(ValueError, match="seen-filter config mismatch"):
        resumed(use_bloom=False).run_job("u9", C.url_of(seed_i, spec), 2)
    from distributed_web_crawler_spark.functions.bloom import BloomParams

    with pytest.raises(ValueError, match="seen-filter config mismatch"):
        resumed(bloom=BloomParams(n_bits=1 << 16)).run_job("u9", C.url_of(seed_i, spec), 2)
    # the ORIGINAL config keeps working (resume of a done job is a no-op)
    assert resumed().run_job("u9", C.url_of(seed_i, spec), 2)["done"]

    # the Bloom identity is a fixed literal, so existing stores resume
    default = FrontierEngine(spark, str(tmp_path / "wh"), corpus_1k[1], spec)
    assert default._filter_meta() == {
        "kind": "bloom", "seen_buckets": 64, "use_bloom": True,
        "n_bits": 1 << 20, "n_hashes": 7,
    }

    # a store whose last commit names the cuckoo filter fails loudly
    import json

    store = eng.store("u9")
    path = store._commit_path(store.last_committed())
    with open(path) as f:
        info = json.load(f)
    info["seen_filter"] = {
        "kind": "cuckoo", "seen_buckets": 8, "use_bloom": True, "n_buckets_log2": 12,
    }
    with open(path, "w") as f:
        json.dump(info, f)
    with pytest.raises(ValueError, match="seen-filter config mismatch"):
        resumed().run_job("u9", C.url_of(seed_i, spec), 2)
    with pytest.raises(ValueError, match="seen-filter config mismatch"):
        resumed().unsee_urls("u9", ["https://crawl.test/x"])
