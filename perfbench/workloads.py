"""The benchmark's workloads: what each one sends, how it is timed, and the
correctness gate its outputs must pass.

Both share one synthetic corpus (``CORPUS_PAGES`` pages, the fixture's
default seed); the workload seed picks the crawl seeds and the request mix,
never the corpus, so the corpus is built once per checkout and reused.
"""

from __future__ import annotations

import time

import numpy as np

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.oracle import crawler as O
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
from distributed_web_crawler_spark.plans.ledger import CrawlService, JobCache, JobLedger

from oracle import bfs_levels, expected_digest, levels_digest, urls_of

CORPUS_PAGES = 100_000


class Workload:
    name = ""
    cycle_len = 1
    engine_config: dict = {}

    def __init__(self, ctx):
        self.ctx = ctx
        self.spec = C.CorpusSpec(n=CORPUS_PAGES)
        self.engine: FrontierEngine | None = None
        self.jobs: list[dict] = []

    def make_engine(self, warehouse: str) -> FrontierEngine:
        return FrontierEngine(
            self.ctx.spark, warehouse, self.ctx.corpus_path, self.spec,
            EngineConfig(**self.engine_config),
        )

    def timed(self, fn):
        """(result, wall seconds, process-tree CPU seconds) of fn()."""
        cpu0 = self.ctx.sampler.cpu_s()
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        return out, wall, self.ctx.sampler.cpu_s() - cpu0

    def rounds_after(self, job_id: str, after_round) -> tuple[int, int]:
        """(URLs admitted, crawl rounds) of the rounds committed after
        ``after_round``; the seed and unsee commits admit nothing and are
        not crawl rounds."""
        store = self.engine.store(job_id)
        lo = -1 if after_round is None else after_round
        admitted = [
            int(store.read_commit(r).get("n_admitted", -1))
            for r in store.committed_rounds()
            if r > lo
        ]
        return sum(n for n in admitted if n > 0), sum(1 for n in admitted if n >= 0)


class BulkDrain(Workload):
    """One multi-seed drain per job, closed loop: the next drain starts when
    the previous one returns. Every drain of a run crawls the same seeds."""

    name = "bulk-drain"
    n_seeds = 3000
    depth = 3
    warmup_seeds = 50
    engine_config = dict(
        use_bloom=True, detailed_metrics=False, verify_payloads=True, pipeline_verify=True
    )

    def __init__(self, ctx):
        super().__init__(ctx)
        rng = np.random.default_rng([ctx.seed, 1])
        self.seed_idx = np.sort(rng.choice(self.spec.n, self.n_seeds, replace=False))
        self.seeds = urls_of(self.seed_idx, self.spec).tolist()
        warm = np.random.default_rng([ctx.seed, 2]).choice(self.spec.n, self.warmup_seeds, replace=False)
        self.warm_seeds = urls_of(warm, self.spec).tolist()

    def warm_up(self, warehouse: str) -> None:
        eng = self.make_engine(warehouse)
        eng.run_job("warmup", self.warm_seeds, 1)

    def start(self, warehouse: str) -> None:
        self.engine = self.make_engine(warehouse)

    def run_job(self, k: int) -> dict:
        job = f"drain{k}"
        # seeding the frontier is job admission, not drain work: untimed
        self.engine.run_job(job, self.seeds, self.depth, max_rounds=0)
        rounds: list = []
        with self.ctx.tracer.span("drain", job=job, root=True):
            _, wall, cpu = self.timed(
                lambda: self.engine.run_job(job, self.seeds, self.depth, on_round=rounds.append)
            )
        rec = {
            "job": job, "kind": "drain", "latency_s": wall, "cpu_s": cpu,
            "urls": sum(r.n_admitted for r in rounds), "rounds": len(rounds),
        }
        self.jobs.append(rec)
        return rec

    def check(self, rec: dict) -> list[str]:
        errs = []
        if not hasattr(self, "_expected"):
            self._expected = expected_digest(bfs_levels(self.seed_idx, self.depth, self.spec), self.spec)
        pdf = self.engine.results_df(rec["job"]).select("depth", "url").toPandas()
        got = levels_digest(pdf["depth"].to_numpy(), pdf["url"].to_numpy())
        if got[0] != self._expected[0]:
            errs.append(f"{rec['job']}: per-depth counts {got[0]} != oracle {self._expected[0]}")
        elif got[1] != self._expected[1]:
            errs.append(f"{rec['job']}: results digest differs from the BFS oracle")
        stats = self.engine.payload_stats(rec["job"])
        n_verified = 0
        for r, s in stats.items():
            n = int(s["n"] or 0)
            n_verified += n
            bad = [k for k in ("n_pixels_ok", "n_phash_ok", "n_caption_ok") if int(s[k] or 0) != n]
            if bad:
                errs.append(f"{rec['job']} round {r}: failed payload invariants {bad}")
        if n_verified != rec["urls"]:
            errs.append(f"{rec['job']}: {n_verified} payloads verified of {rec['urls']} fetched")
        unverified = self.engine.unverified_rounds(rec["job"])
        if unverified:
            errs.append(f"{rec['job']}: unverified rounds {unverified}")
        return errs

    def reference_job(self) -> str:
        return self.jobs[-1]["job"]


class ServiceJobs(Workload):
    """One client, closed loop, through ``CrawlService``. Requests follow a
    fixed cycle of six: four new jobs, the j-th taking depth ``1 + j % 3``
    (FIXTURES.md section 2); one request that repeats an earlier seed at no
    greater depth (served by the depth-monotone cache); and one recrawl of
    three depth-1 URLs of the latest depth-3 job (an unsee commit whose
    stale Bloom bits the exact re-check overrides, a resume, then
    ``vacuum``)."""

    name = "service-jobs"
    cycle = ("new", "new", "new", "repeat", "new", "recrawl")
    cycle_len = len(cycle)
    engine_config = dict(
        politeness=O.PolitenessPolicy(), robots=O.RobotsPolicy(), verify_payloads=True
    )

    def __init__(self, ctx):
        super().__init__(ctx)
        self.rng = np.random.default_rng([ctx.seed, 3])
        self.used: set[int] = set()
        self.svc: CrawlService | None = None

    def _seed_page(self, rng) -> int:
        """A page with 2 to 5 valid out-links that robots allows: a request
        of depth d then always runs d levels, so the seed picks which pages
        are crawled, not how many rounds a request takes."""
        while True:
            i = int(rng.integers(self.spec.n))
            if i in self.used or self.engine_config["robots"].blocked(i, self.spec):
                continue
            if 2 <= len(C.out_links(i, self.spec)) <= 5:
                self.used.add(i)
                return i

    def _service(self, warehouse: str) -> CrawlService:
        eng = self.make_engine(warehouse)
        return CrawlService(engine=eng, ledger=JobLedger(warehouse), cache=JobCache(warehouse))

    def warm_up(self, warehouse: str) -> None:
        svc = self._service(warehouse)
        seed = self._seed_page(np.random.default_rng([self.ctx.seed, 4]))
        svc.submit("warmup", "client0", C.url_of(seed, self.spec), 1)
        svc.run_next(owner="m1")

    def start(self, warehouse: str) -> None:
        self.svc = self._service(warehouse)
        self.engine = self.svc.engine

    def _finished_new(self, min_depth: int = 1) -> list[dict]:
        return [r for r in self.jobs if r["kind"] == "new" and r["depth"] >= min_depth]

    def run_job(self, j: int) -> dict:
        kind = self.cycle[j % len(self.cycle)]
        job = f"JOB{j}"
        rec = {"job": job, "kind": kind}
        if kind == "recrawl":
            # the cycle's latest depth-3 job, three of its depth-1 URLs: the
            # resume then always runs one round (re-fetch, re-extract, dedup)
            target = self._finished_new(min_depth=3)[-1]
            pool = target["result"][1]
            urls = sorted(self.rng.choice(pool, size=min(3, len(pool)), replace=False).tolist())
            store = self.engine.store(target["job"])
            before = store.last_committed()

            def request():
                out = self.svc.recrawl(target["job"], urls, owner="m1")
                store.vacuum()
                return out

            rec.update(target=target["job"], depth=target["depth"])
        else:
            if kind == "repeat":
                earlier = self._finished_new()
                earlier = earlier[int(self.rng.integers(len(earlier)))]
                seed, depth = earlier["seed"], int(self.rng.integers(1, earlier["depth"] + 1))
            else:
                seed, depth = self._seed_page(self.rng), 1 + len(self._finished_new()) % 3
            before = None

            def request():
                self.svc.submit(job, f"client{j % 4}", C.url_of(seed, self.spec), depth)
                return self.svc.run_next(owner="m1")

            rec.update(seed=seed, depth=depth)
        with self.ctx.tracer.span("request", job=job, root=True):
            out, wall, cpu = self.timed(request)
        rec.update(latency_s=wall, cpu_s=cpu, result=out["results"], from_cache=out.get("from_cache", False))
        rec["urls"], rec["rounds"] = (
            (0, 0) if rec["from_cache"] else self.rounds_after(rec.get("target", job), before)
        )
        self.jobs.append(rec)
        return rec

    def check(self, rec: dict) -> list[str]:
        if rec["kind"] == "recrawl":
            original = next(r for r in self.jobs if r["job"] == rec["target"])["result"]
            if rec["result"] != original:
                return [f"{rec['job']}: recrawl of {rec['target']} changed its result"]
            return []
        errs = []
        if rec["kind"] == "repeat" and not rec["from_cache"]:
            errs.append(f"{rec['job']}: repeat seed at no greater depth was not served from cache")
        want = O.crawl(
            rec["seed"], rec["depth"], self.spec,
            self.engine_config["politeness"], self.engine_config["robots"],
        ).levels_sorted()
        if [sorted(level) for level in rec["result"]] != want:
            errs.append(f"{rec['job']}: levels differ from the oracle crawler")
        return errs

    def reference_job(self) -> str:
        new = self._finished_new()
        return max(new, key=lambda r: sum(len(level) for level in r["result"]))["job"]


WORKLOADS = {w.name: w for w in (BulkDrain, ServiceJobs)}
