"""FrontierEngine — the BFS round loop (SURVEY.md §3.1 "Spark lifecycle").

This is the Spark-first re-expression of the reference master's drain loop
(Server/Cluster/Master/master.go:270-299, 620-686): the per-depth task maps
become a frontier table, the worker RPC fan-out becomes one vectorized
fetch-join + extraction stage per sub-round, the mutex-guarded visited maps
become a partitioned Bloom-filtered seen table probed by anti-join, and the
depth barrier becomes the natural action barrier between rounds. One atomic
commit per sub-round (catalog/tables.py) is the resume anchor — strictly
better than the reference's from-scratch job reassignment
(lockServer.go:174-197; master.go:449), with identical final state because
rounds are deterministic.

Scale shape per round (what survives 1000 executors × 100 TB):

* fetch: `broadcast(admitted) ⋈ corpus` with the corpus scan pruned to the
  storage buckets the round touches — never a full corpus scan, and the
  binary `bytes` column is only read by the optional payload-verify stage
  (column pruning, SURVEY.md §7 risk (e)).
* dedup: Bloom probe partition-wise by seen-bucket (no broadcast of blobs),
  exact anti-join only on Bloom positives against the seen parquet pruned
  to the positives' own buckets (PartitionFilters). False positives
  re-check exactly; URLs are never lost. Per-round seen deltas are merged
  by compact_seen every cfg.compact_seen_every rounds, so both the
  re-check and result reads list O(1) roots regardless of crawl age.
* politeness window: one shuffle by host, budgets data-determined so
  local[8] and local[32] produce identical admissions.
* writes: the round's new URLs are written ONCE, bucket-partitioned, in a
  single fused pass that also updates the Bloom blobs and returns per-bucket
  row counts; the pending frontier is a manifest of such file-sets in the
  commit, so depths a round does not drain carry over by reference and are
  never rewritten (Iceberg-snapshot-style data-file sharing).
* every count the driver needs comes back from manifest arithmetic or the
  write task's own stats; nothing is re-scanned to be counted.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

import json

from ..catalog.tables import JobStateStore, _atomic_write
from ..fixtures import corpus as C
from ..functions import bloom as B
from ..functions import urls as U
from ..operators.extract import extract_links
from ..sources.fetch import fetch_and_verify
from ..operators.politeness import schedule
from ..operators.robots import blocked_expr
from ..oracle.crawler import PolitenessPolicy, RobotsPolicy

FRONTIER_SCHEMA = "url string, host string, url_hash bigint, seen_bucket int, depth int"

# driver-side pool for concurrent Spark actions within a round (independent
# job DAGs: payload verify ∥ extraction pipeline; seen/bloom/frontier writes)
_POOL = ThreadPoolExecutor(max_workers=4, thread_name_prefix="frontier-io")


def _pool_submit(spark: SparkSession, fn, *args, group: str | None = None):
    """Submit a Spark action to _POOL under a PER-THREAD FAIR scheduler
    pool. spark.scheduler.mode=FAIR (session.py) only arbitrates BETWEEN
    pools; with no allocation file every job lands in the single default
    pool, whose internal mode is FIFO — i.e. FAIR-with-one-pool schedules
    exactly like FIFO and the long verify job still starves the short write
    job. Tagging each pool thread with its own spark.scheduler.pool local
    property puts concurrent jobs in DISTINCT auto-created pools (weight 1,
    minShare 0), which the FAIR root genuinely round-robins. Local
    properties are per-Python-thread under PySpark's pinned-thread mode and
    setting is idempotent, so re-tagging on every submit is cheap.

    `group` additionally tags the action's Spark jobs with a job-group id
    so a failing round can CANCEL them (sc.cancelJobGroup) instead of
    blocking its cleanup path behind a full verify run; the tag is cleared
    when unset so a reused worker thread never inherits a stale group."""

    def run():
        import threading

        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", threading.current_thread().name)
        sc.setLocalProperty("spark.jobGroup.id", group)
        return fn(*args)

    return _POOL.submit(run)


@dataclass
class EngineConfig:
    politeness: Optional[PolitenessPolicy] = None
    robots: Optional[RobotsPolicy] = None
    use_bloom: bool = True
    # 64 buckets at sandbox scale (≈1 file per bucket per round, and the
    # bucket-keyed fused write must expose at least 2× the core count in
    # groups or it serializes the write stage); a 10^10 deployment raises
    # this into the thousands — every path is O(buckets)
    seen_buckets: int = 64
    # hard bound on one fused-write pandas group: when a round's estimated
    # per-bucket row share exceeds this, _write_bucketed adds a
    # url_hash-derived chunk to the group key (extra parquet parts + one
    # Bloom blob per chunk, OR-merged on read) instead of handing one task
    # an unbounded in-memory frame — the guard holds even when an operator
    # leaves seen_buckets at a value too small for their crawl
    max_group_rows: int = 2_000_000
    # count the per-round candidate set (extra materialization of the
    # extract+dedup pipeline) — rich metrics for tests, off for benchmarks
    detailed_metrics: bool = True
    # merge per-round seen deltas into one bucketed table whenever the
    # component count exceeds this (0/None disables). Keeps the per-round
    # seen file listing O(1) in crawl age — without it a thousand-round
    # crawl scans a thousand delta roots per re-check/result read.
    compact_seen_every: Optional[int] = 16
    # merge a depth's pending-frontier manifest entries whenever one
    # (depth, due=0) group exceeds this (0/None disables): a politeness-
    # throttled depth appends one new/ entry PER SUB-ROUND, so a
    # 10^4-sub-round drain would grow commit.json and the next depth's
    # sub-round-0 union linearly with rounds. The merge takes the K
    # SMALLEST entries (LSM discipline — freshly-appended per-sub-round
    # sets merge once; a merged generation is only re-picked when it is
    # again among the smallest), bounding the group at K+1 entries with
    # O(rows · log) total rewrite amplification.
    frontier_compact_every: Optional[int] = 64
    # optional SQL expression (over the pending frontier's url / host /
    # url_hash / depth columns) of a COARSE priority grade for the
    # politeness schedule: per-host admission order becomes (grade DESC,
    # url_hash, url) — operators/politeness.py schedule(grade=...). This
    # is how a hits/pagerank signal drives the drain (grade the frontier
    # by authority octile); keep it ≤ ~100 distinct values (the schedule's
    # offset table is hosts × grades × chunks rows, broadcast). Ignored
    # without politeness. Part of the per-round dataflow, so the re-verify
    # path re-derives slices with the same grade (pure function of data).
    politeness_grade: Optional[str] = None
    bloom: B.BloomParams = field(default_factory=B.BloomParams)
    verify_payloads: bool = False  # per-row PSNR/phash/caption invariants
    # pipeline payload verification ACROSS rounds: round r's verify job
    # (decode + PSNR/phash/caption, the drain's longest phase) keeps running
    # while round r+1 admits/extracts/writes, and is awaited one round
    # later — per-round wall becomes max(verify, rest) instead of their
    # sum. Every admitted row is still verified; stats land in the round
    # dir's verify.json AFTER the round's commit instead of inside it, so
    # a driver killed between a commit and its verify finalize leaves that
    # round's stats file absent (the rows themselves are committed and the
    # resume path is unchanged) — the synchronous default keeps stats
    # inside commit.json with no such window.
    pipeline_verify: bool = False


@dataclass
class RoundStats:
    round: int
    depth: int
    sub_round: int
    n_admitted: int
    n_candidates: int
    n_new: int
    n_blocked: int
    n_pending_after: int
    wall_ms: int


class FrontierEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        corpus_path: str,
        spec: C.CorpusSpec,
        cfg: EngineConfig | None = None,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.corpus_path = corpus_path
        self.spec = spec
        self.cfg = cfg or EngineConfig()
        # at most ONE in-flight pipelined verify: (round, future, persisted
        # frames kept alive until the verify job has consumed them)
        self._verify_inflight: Optional[tuple] = None
        # r9 (r8 verdict Next #2, "hide the final round's verify tail"):
        # at most one EARLY-submitted verify for a FUTURE round —
        # (store, round, future). Round r, after committing the last
        # depth's frontier, pre-submits round r+1's payload verify (the
        # final depth does no extraction, so without this the job's
        # largest verify ran with nothing to overlap but job-end
        # bookkeeping). Round r+1 adopts the future at its submit point
        # when the store/round/sub-round match exactly.
        self._early_verify: Optional[tuple] = None

    # ------------------------------------------------------------ helpers
    # catalog seam (catalog/backend.py CatalogBackend): every store the
    # engine touches comes from this factory, so a cluster deployment
    # swaps the parquet+CAS stand-in for IcebergJobStateStore by
    # reassigning ONE attribute — the whole suite runs against whatever
    # backend this names. Signature: (warehouse, job_id) -> CatalogBackend.
    store_backend = JobStateStore

    def store(self, job_id: str) -> JobStateStore:
        return self.store_backend(self.warehouse, job_id)

    def _filter_meta(self) -> dict:
        """The blob-layout identity of this engine's seen-filter config,
        persisted in the seed commit and carried forward by commit_round.
        A job's blob files are only interpretable under the config that
        wrote them: a bit array read under different size params, or the
        parquet layout read under a different seen_buckets, yields
        garbage probe verdicts whose FALSE side is trusted as
        definitely-new, i.e. silent duplicate crawling. use_bloom is part
        of the identity too: a resume with the filter off stops folding
        new hashes into the blobs, so re-enabling it later would probe
        filters missing whole rounds (stale-MISSING = false negatives)."""
        return {
            "kind": "bloom",
            "seen_buckets": self.cfg.seen_buckets,
            "use_bloom": self.cfg.use_bloom,
            "n_bits": self.cfg.bloom.n_bits,
            "n_hashes": self.cfg.bloom.n_hashes,
        }

    def _check_filter_meta(self, info: dict) -> None:
        """Raise on resuming/mutating a job store under a seen-filter
        config other than the one that wrote it (ADVICE r7: a silent
        filter swap reinterprets the blob bytes; false positives are
        rescued by the exact re-check but false negatives duplicate crawls
        with no error). That includes stores written by the retired cuckoo
        filter, whose metadata names kind "cuckoo". Pre-r8 stores carry no
        metadata — accepted as-is, the caller owns config continuity for
        those."""
        stored = info.get("seen_filter")
        if stored is None:
            return
        current = self._filter_meta()
        if stored != current:
            raise ValueError(
                f"seen-filter config mismatch: job store was written under "
                f"{stored}, engine configured with {current}; resume with "
                "the original EngineConfig (filter kind, params, "
                "seen_buckets, use_bloom) or start a fresh job"
            )

    def _grade_col(self):
        """cfg.politeness_grade as a Column (None when unset) — resolved
        lazily so the expression string is parsed against each round's
        pending frame."""
        return F.expr(self.cfg.politeness_grade) if self.cfg.politeness_grade else None

    def _with_keys(self, df: DataFrame) -> DataFrame:
        url = U.canonicalize(F.col("url"))
        return (
            df.withColumn("url", url)
            .withColumn("url_hash", U.url_hash(F.col("url")))
            .withColumn("seen_bucket", U.seen_bucket(F.col("url_hash"), self.cfg.seen_buckets))
        )

    def _seen_df(self, store: JobStateStore, buckets: Optional[List[int]] = None) -> Optional[DataFrame]:
        """Merge-on-read view of the seen table: the union of live
        components MINUS tombstone suppression (unsee_urls' equality-delete
        files — the Iceberg v2 merge-on-read rule). A tombstone from round
        t suppresses matching rows from components whose effective round is
        < t only, so a re-add AFTER the unsee (reseed, or natural
        re-discovery) survives. compact_seen materializes this exact view,
        after which the delete files are dead (vacuum sweeps them)."""
        return self._seen_view(
            store.seen_components(), store.tombstone_components(), buckets
        )

    def _seen_view(
        self,
        comps: List[tuple],
        tombs: List[tuple],
        buckets: Optional[List[int]] = None,
    ) -> Optional[DataFrame]:
        """Merge-on-read builder shared by the live view (_seen_df) and
        time travel (seen_df_at): union the given (round, path) components,
        suppress with the given (round, path) tombstones under the strict
        t > c rule."""
        if not comps:
            return None
        # each delta is its own partitioned root (union, not multi-path read);
        # the bucket filter pushes through the union into every scan as a
        # PartitionFilter
        from functools import reduce

        # seen_round = the row's DISCOVERY round, retained through
        # compaction (delta files imply it from their component round; the
        # compacted table persists the column — compact_seen writes this
        # exact view). It powers aged/TTL recrawl:
        # unsee_matching("seen_round <= k") re-crawls everything discovered
        # up to round k (round→time via commit-file mtimes). Pre-column
        # compactions read NULL → coalesce to the compaction's upto — a
        # conservative (newer-looking) migration default.
        schema = "url_hash long, url string, depth int, seen_bucket int, seen_round int"

        def read(p: str, c: int, cols: Optional[List[str]] = None) -> DataFrame:
            df = self.spark.read.schema(schema).parquet(p).withColumn(
                "seen_round", F.coalesce(F.col("seen_round"), F.lit(c)).cast("int")
            )
            if buckets is not None:
                df = df.filter(F.col("seen_bucket").isin(buckets))
            return df.select(*cols) if cols else df

        parts = []
        for c, p in comps:
            df = read(p, c)
            kill_paths = [tp for t, tp in tombs if t > c]
            if kill_paths:
                kill = reduce(
                    DataFrame.unionByName,
                    [read(tp, c, ["url_hash"]) for tp in kill_paths],
                )
                # unsee batches are recrawl lists — orders of magnitude below
                # the seen table; the anti-join must never shuffle the seen
                # side (at 10^10 rows that is the whole table)
                df = df.join(F.broadcast(kill), "url_hash", "left_anti")
            parts.append(df)
        return reduce(DataFrame.unionByName, parts)

    def _read_components(self, paths: List[str]) -> DataFrame:
        """Read frontier file-sets (bucket-partitioned parquet) as one DF.
        Per-path read + union so the explicit schema (and any later bucket
        filter) pushes into every root as a PartitionFilter."""
        from functools import reduce

        return reduce(
            DataFrame.unionByName,
            [self.spark.read.schema(FRONTIER_SCHEMA).parquet(p) for p in paths],
        )

    # ------------------------------------------------------------ seed
    def _seed_round(self, store: JobStateStore, seed_url, depth_limit: int) -> None:
        """seed_url: one URL or a list — the 10^10-frontier drain scenario
        seeds whole batches, the reference's single-seed job is the
        singleton case."""
        import pandas as pd

        seeds = [seed_url] if isinstance(seed_url, str) else list(seed_url)
        # Arrow path (a plain tuple list would serialize row-by-row via py4j)
        df = self.spark.createDataFrame(pd.DataFrame({"url": seeds})).dropDuplicates(["url"])
        df = self._with_keys(df).withColumn("host", U.host_of(F.col("url")))
        if self.cfg.robots is not None:
            df = df.filter(~blocked_expr(F.col("url")))
        df = df.withColumn("depth", F.lit(0)).select("url", "host", "url_hash", "seen_bucket", "depth")
        # len(seeds) bounds the write for free: a 10^10-scenario whole-
        # frontier seed batch must hit the same max_group_rows chunk guard
        # as round writes
        stats, _ = self._write_bucketed(
            store, store.new_path(0), df, bloom_round=0, approx_rows=len(seeds)
        )
        n = sum(s[1] for s in stats)
        manifest = [[self._rel(store, store.new_path(0)), 0, n, 0]] if n > 0 else []
        store.commit_round(
            0,
            {
                "depth": 0,
                "sub_round": -1,
                "depth_limit": depth_limit,
                "n_pending_after": n,
                "frontier_manifest": manifest,
                "done": n == 0,
                "seen_filter": self._filter_meta(),
            },
            touched_blooms=[s[0] for s in stats],
        )

    @staticmethod
    def _rel(store: JobStateStore, path: str) -> str:
        return os.path.relpath(path, store.dir)

    # ------------------------------------------------------------ seen probe
    def _filter_new(self, store: JobStateStore, keyed: DataFrame, persisted: Optional[list] = None):
        """Within-round dedup (U3) fused with the seen anti-join (U2/J1).
        Input is the round's keyed candidate stream WITH duplicates; returns
        (fresh, deduped) where `deduped` is the distinct candidate view
        (for metrics).

        Bloom path — ONE exchange total: the probe's fine key is a pure
        function of url_hash, so hash-partitioning by it co-locates every
        duplicate; the probe task drops duplicates per partition (a running
        per-partition hash set across its Arrow batches) and Bloom-checks
        the survivors in the same pass. The separate dropDuplicates
        exchange this replaces shuffled the full candidate set a second
        time per round. Exact re-check of positives then scans ONLY the
        positives' own seen buckets (PartitionFilter-pruned) — re-check
        cost tracks the FP count, not seen-set age or size."""
        if not self.cfg.use_bloom or not store.seen_paths():
            deduped = keyed.dropDuplicates(["url_hash"]).persist()
            if persisted is not None:
                persisted.append(deduped)
            if not store.seen_paths():
                return deduped, deduped
            fresh = deduped.join(self._seen_df(store).select("url_hash"), "url_hash", "left_anti")
            return fresh, deduped

        blobs = {b: p for b, p in store.bloom_blobs().items()}
        params = self.cfg.bloom
        # exact re-check INPUTS for Bloom positives: a false positive must
        # never lose a URL. The re-check runs INSIDE the probe task (numpy
        # isin against the positive buckets' own seen url_hash column,
        # loaded lazily per bucket from these roots) —
        # the r6 layout ran it as a separate anti-join whose subplan
        # executed lazily inside the fused WRITE job, adding a positives
        # exchange + a seen-scan stage to every round's writes_ms while
        # the write tasks themselves measured ~0 (profiled r7). IO is
        # still bucket-pruned: a task reads a bucket's hashes only when
        # that bucket has positives this round; buckets with none cost
        # nothing — re-check IO tracks the positive set, not crawl age.
        # (The fine_key refinement below can split one bucket across up
        # to 8 tasks, so a hot bucket's hash column may be read up to 8×;
        # at 10^10 scale seen_buckets ≫ cores, the refinement disappears
        # and each touched bucket loads exactly once.)
        def _abs(p: str) -> str:
            return os.path.join(store.dir, p) if not os.path.isabs(p) else p

        seen_roots = [(c, _abs(p)) for c, p in store.seen_components()]
        # tombstone suppression (unsee_urls): a tombstone from round t kills
        # matching hashes from components with effective round < t only —
        # identical to the _seen_df merge-on-read rule, applied in numpy so
        # the probe's exact re-check can never resurrect an unseen URL
        tomb_roots = [(t, _abs(p)) for t, p in store.tombstone_components()]

        def dedup_probe(batches):
            import glob as _glob

            import numpy as np
            import pandas as pd  # noqa: F401
            import pyarrow.parquet as _pq

            cache: dict = {}
            seen_arr: dict = {}
            seen_hashes: set = set()  # per-PARTITION dedup state (one task = one partition)

            def load_hashes(root: str, bucket: int) -> np.ndarray:
                parts = []
                for f in sorted(_glob.glob(os.path.join(root, f"seen_bucket={bucket}", "*.parquet"))):
                    parts.append(_pq.read_table(f, columns=["url_hash"])["url_hash"].to_numpy())
                return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)

            def bucket_seen(bucket: int) -> np.ndarray:
                arr = seen_arr.get(bucket)
                if arr is None:
                    tl = [(t, load_hashes(root, bucket)) for t, root in tomb_roots]
                    parts = []
                    for c, root in seen_roots:
                        a = load_hashes(root, bucket)
                        if len(a):
                            kills = [ta for t, ta in tl if t > c and len(ta)]
                            if kills:
                                a = a[~np.isin(a, np.concatenate(kills))]
                        parts.append(a)
                    arr = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
                    seen_arr[bucket] = arr
                return arr

            for pdf in batches:
                pdf = pdf[~pdf["url_hash"].isin(seen_hashes)].drop_duplicates("url_hash")
                seen_hashes.update(pdf["url_hash"].tolist())
                out = []
                for bucket, grp in pdf.groupby("seen_bucket"):
                    filt = cache.get(bucket)
                    if filt is None:
                        filt = B.load_blobs(blobs.get(int(bucket)), params)
                        cache[bucket] = filt
                    hashes = grp["url_hash"].to_numpy()
                    maybe = B.contains(filt, hashes, params)
                    seen_flag = maybe
                    if maybe.any():
                        # exact membership for the positives only: False =
                        # filter FP, rescued right here instead of via a
                        # downstream anti-join
                        seen_flag = maybe.copy()
                        seen_flag[maybe] = np.isin(hashes[maybe], bucket_seen(int(bucket)))
                    g = grp.copy()
                    g["maybe_seen"] = seen_flag
                    out.append(g)
                yield pd.concat(out) if out else pdf.assign(maybe_seen=False)

        schema = keyed.schema.add("maybe_seen", "boolean")
        # exchange on a refinement of seen_bucket (multiple-of-buckets key):
        # each task still touches few blobs, but every reducer gets work
        # (hashing on the bucket alone leaves ~37% of reducers empty)
        fine_key = F.pmod(F.col("url_hash"), F.lit(self.cfg.seen_buckets * 8))
        n_par = 2 * self.spark.sparkContext.defaultParallelism  # finer tasks smooth stragglers
        probed = keyed.repartition(n_par, fine_key).mapInPandas(dedup_probe, schema=schema)
        probed = probed.persist()
        if persisted is not None:
            persisted.append(probed)
        # maybe_seen is now EXACT (filter positives were re-checked in-task)
        fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        return fresh, probed

    def _write_bucketed(
        self, store: JobStateStore, out_dir: str, rows: DataFrame, bloom_round: Optional[int] = None,
        slice_col: Optional[str] = None, approx_rows: Optional[int] = None,
    ) -> tuple:
        """ONE shuffle, one pass: group rows by seen_bucket; each task writes
        its bucket's parquet part (hive layout, `seen_bucket=<b>/`) AND — for
        new-URL sets — folds the bucket's hashes into the Bloom blob, then
        returns (bucket, n). Fusing the writes replaces the three separate
        jobs of the v1 loop (stage `_new` parquet → read back → rewrite as
        seen delta + bloom pass + full next-frontier rewrite) that made
        `writes_ms` the only phase DEGRADING from 8→32 cores. Worker-side
        pyarrow writes are the low-level-writer pattern (what an Iceberg
        writer task does); atomicity still comes from commit.json, and
        abort_round() sweeps orphans. Row counts come back with the stats —
        no read-back count job.

        With `slice_col` (the politeness schedule's `due` sub-round), rows
        are grouped by (slice, seen_bucket) and land under
        ``out_dir/<slice_col>=<v>/seen_bucket=<b>/`` so each slice is an
        independently-readable file-set root; stats become
        (slice, bucket, n). Without it, stats are (None, bucket, n).

        Memory guard (`approx_rows`): each pandas group is one bucket's
        whole round in one task's memory. Call sites pass the row count
        (or a cheap upper bound — over-estimating only makes groups
        smaller); when the per-bucket share exceeds
        ``cfg.max_group_rows`` the group key gains a url_hash-derived
        chunk, bounding every group at ~max_group_rows regardless of what
        an operator set ``seen_buckets`` to. Chunked buckets write
        ``part-<bucket>-<chunk>.parquet`` side by side (same readable
        layout) and one Bloom blob per chunk — each chunk's blob = previous
        filter | that chunk's bits, so the reader's OR over the files
        (bloom.load_blobs) reproduces the unchunked blob exactly and no
        two tasks ever write one file.

        Returns ``(stats, task_ms)``: the per-bucket stat tuples plus the
        summed worker-side phase timers of THIS write job. The timers used
        to be stashed on ``self.last_write_task_ms``, but the deferred-slice
        write runs concurrently in a pool thread alongside the main write —
        whichever finished last won the attribute and the bench's
        write_conv/pq/bloom_ms phases could report the wrong job's numbers."""
        blobs = store.bloom_blobs() if (self.cfg.use_bloom and bloom_round is not None) else None
        params = self.cfg.bloom
        update_blooms = blobs is not None
        r = bloom_round
        chunks = 1
        if approx_rows:
            per_bucket = approx_rows / max(1, self.cfg.seen_buckets)
            chunks = min(256, max(1, -(-int(per_bucket) // self.cfg.max_group_rows)))
        keys = ([slice_col] if slice_col else []) + ["seen_bucket"]
        if chunks > 1:
            # high url_hash bits: independent of seen_bucket (low-bit pmod)
            rows = rows.withColumn(
                "_wchunk",
                F.pmod(F.shiftrightunsigned(F.col("url_hash"), 20), F.lit(chunks)).cast("int"),
            )
            keys = keys + ["_wchunk"]

        def build(key, pdf):
            import time as _time

            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            t_entry = _time.monotonic()
            chunk = int(key[-1]) if chunks > 1 else 0
            if slice_col:
                sl, bucket = int(key[0]), int(key[1])
                part_dir = os.path.join(out_dir, f"{slice_col}={sl}", f"seen_bucket={bucket}")
            else:
                sl, bucket = -1, int(key[0])
                part_dir = os.path.join(out_dir, f"seen_bucket={bucket}")
            os.makedirs(part_dir, exist_ok=True)
            table = pa.table(
                {
                    "url": pa.array(pdf["url"], pa.string()),
                    "host": pa.array(pdf["host"], pa.string()),
                    "url_hash": pa.array(pdf["url_hash"], pa.int64()),
                    "depth": pa.array(pdf["depth"], pa.int32()),
                }
            )
            t_conv = _time.monotonic()
            # deterministic FINAL name + atomic replace: a retried/speculative
            # task attempt overwrites the same file (same row set) instead of
            # appending a duplicate part — groupBy gives one call per bucket.
            # The TMP name is unique PER ATTEMPT: two live attempts of the
            # same group (speculation, or a zombie master racing the
            # timeout-steal winner) must not interleave writes into one tmp
            # file and os.replace a torn part into the committed layout.
            # Dot-prefix keeps staging invisible to Spark listings.
            import uuid

            stem = f"part-{bucket:05d}" if chunk == 0 else f"part-{bucket:05d}-{chunk:03d}"
            path = os.path.join(part_dir, f"{stem}.parquet")
            tmp = os.path.join(part_dir, f".{stem}.{uuid.uuid4().hex[:12]}.tmp")
            pq.write_table(table, tmp)
            os.replace(tmp, path)
            t_pq = _time.monotonic()
            if update_blooms:
                filt = B.load_blobs(blobs.get(bucket), params)
                B.add_hashes(filt, pdf["url_hash"].to_numpy(), params)
                B.write_blob(store.bloom_blob_path(r, bucket, chunk), filt)
            t_bloom = _time.monotonic()
            # per-task phase timers ride back on the stats row (no extra job):
            # conv = pandas→Arrow, pq = parquet write, bloom = blob fold+write.
            # Worker-visible time only — shuffle/Arrow-IPC transfer cost is the
            # gap between the job's wall and max-per-slot sums of these.
            return pd.DataFrame({
                "slice": [sl], "bucket": [bucket], "n": [len(pdf)],
                "conv_ms": [int((t_conv - t_entry) * 1000)],
                "pq_ms": [int((t_pq - t_conv) * 1000)],
                "bloom_ms": [int((t_bloom - t_pq) * 1000)],
            })

        stats = rows.groupBy(*keys).applyInPandas(
            build, schema="slice int, bucket int, n long, conv_ms long, pq_ms long, bloom_ms long"
        ).collect()
        task_ms = {
            "conv_ms": sum(row["conv_ms"] for row in stats),
            "pq_ms": sum(row["pq_ms"] for row in stats),
            "bloom_ms": sum(row["bloom_ms"] for row in stats),
            "n_tasks": len(stats),
        }
        if slice_col:
            return [(row["slice"], row["bucket"], row["n"]) for row in stats], task_ms
        return [(row["bucket"], row["n"]) for row in stats], task_ms

    def _compact_manifest(
        self, store: JobStateStore, r: int, manifest: List[list], phases: dict
    ) -> List[list]:
        """Bound the pending-frontier manifest: when a (depth, due=0)
        group exceeds cfg.frontier_compact_every entries, merge the K
        SMALLEST (by row count) into one staged file-set under round r's
        fcompact/d=<depth>/ and replace their entries with one. Runs
        pre-commit, so a crash leaves either the old manifest or the new
        one — never a half-merged view; abort_round sweeps the staging.

        Why smallest-K (LSM discipline): a politeness-throttled depth
        appends one tiny new/ entry per sub-round; merging those keeps
        each row's rewrite count O(log) while the group length stays
        ≤ K+1 regardless of how many sub-rounds the previous depth took.
        The merged copy is frontier-only — the original new/ roots remain
        live seen components (they ARE the seen deltas); vacuum sweeps an
        fcompact set once the manifest stops referencing it, and sweeps
        new/ data files only when the seen compaction also covers them.
        Politeness-deferred slices (due > 0) are never merged: each slice
        is consumed whole by its own sub-round already."""
        every = self.cfg.frontier_compact_every
        if not every:
            return manifest
        from collections import defaultdict

        groups = defaultdict(list)
        for e in manifest:
            if (e[3] if len(e) > 3 else 0) == 0:
                groups[e[1]].append(e)
        out = list(manifest)
        t0 = time.monotonic()
        merged_any = False
        for depth, entries in sorted(groups.items()):
            if len(entries) <= every:
                continue
            victims = sorted(entries, key=lambda e: (e[2], e[0]))[:every]
            expected = sum(e[2] for e in victims)
            df = self._read_components([os.path.join(store.dir, e[0]) for e in victims])
            dest = os.path.join(store.fcompact_path(r), f"d={depth}")
            stats, _ = self._write_bucketed(
                store, dest, df, bloom_round=None, approx_rows=expected
            )
            n = sum(s[1] for s in stats)
            if n != expected:
                raise AssertionError(
                    f"frontier compaction rewrote {n} rows, manifest said {expected}"
                )
            vic_ids = {id(e) for e in victims}
            out = [e for e in out if id(e) not in vic_ids]
            out.append([self._rel(store, dest), depth, n, 0])
            merged_any = True
        if merged_any:
            phases["fcompact_ms"] = round((time.monotonic() - t0) * 1000)
        return out

    # ------------------------------------------------------------ pipelined verify
    def _finalize_verify(self, store: JobStateStore) -> None:
        """Await the in-flight pipelined verify (if any), release its
        persisted frames, and write its stats as ``verify.json`` in the
        (already committed) round dir. An inflight entry belonging to a
        different job store (engine reuse after a mid-crawl abort) is
        drained and discarded, never finalized into this store."""
        if self._verify_inflight is None:
            return
        own_store, r0, fut, frames = self._verify_inflight
        self._verify_inflight = None
        if own_store.dir != store.dir:
            # stale entry from a DIFFERENT job whose run_job aborted
            # mid-round (a reused engine): it must not be finalized into
            # THIS job's round dir. Drain + release, then — the round it
            # belongs to is already committed — record a SUCCESSFUL result
            # as verify.json in its OWN store (losing it would make
            # payload_stats() silently report the round as never verified);
            # a failure becomes a warning attributed to its own store
            # rather than an exception raised into an unrelated job.
            stale_stats = None
            try:
                stale_stats = fut.result()
            except Exception as e:  # pragma: no cover - needs a failing stale verify
                import warnings

                warnings.warn(
                    f"discarded pipelined verify for aborted job at "
                    f"{own_store.dir!r} round {r0}: {e!r}"
                )
            finally:
                for df_ in frames:
                    df_.unpersist()
            if stale_stats and os.path.isdir(own_store.round_dir(r0)):
                _atomic_write(
                    os.path.join(own_store.round_dir(r0), "verify.json"),
                    json.dumps(
                        {k: (float(v) if v is not None else None) for k, v in stale_stats.items()}
                    ).encode(),
                )
            return
        try:
            stats = fut.result()
        except Exception as e:
            # round r0 is ALREADY COMMITTED (the pipelined trade, see
            # EngineConfig.pipeline_verify): surface the failure attributed
            # to ITS round, not the round whose finalize happened to await
            # it — the frontier rows are durable and correct (verification
            # checks payload invariants, it does not gate admission), but
            # the round must be re-verified before its payloads are trusted
            raise RuntimeError(
                f"pipelined payload verification FAILED for already-committed "
                f"round {r0}: its rows are durable but unverified — re-run "
                f"verification for round {r0} before trusting its payloads"
            ) from e
        finally:
            for df_ in frames:
                df_.unpersist()
        if stats:
            _atomic_write(
                os.path.join(store.round_dir(r0), "verify.json"),
                json.dumps(
                    {k: (float(v) if v is not None else None) for k, v in stats.items()}
                ).encode(),
            )

    def payload_stats(self, job_id: str) -> dict:
        """round -> payload-verification stats, from commit.json (synchronous
        mode) or the pipelined mode's verify.json sidecar."""
        store = self.store(job_id)
        out: dict = {}
        for r in store.committed_rounds():
            stats = store.read_commit(r).get("payload")
            if stats is None:
                try:
                    with open(os.path.join(store.round_dir(r), "verify.json")) as f:
                        stats = json.load(f)
                except FileNotFoundError:
                    continue
            out[r] = stats
        return out

    def unverified_rounds(self, job_id: str) -> List[int]:
        """Committed rounds that ADMITTED pages but carry no payload-verify
        stats. In pipelined mode, a driver killed between a round's commit
        and its verify finalize leaves exactly this signature — an absent
        verify.json sidecar — so the round's rows are durable but its
        payloads unverified (r4 VERDICT Next #8). Only meaningful when the
        job ran with verify_payloads."""
        store = self.store(job_id)
        verified = self.payload_stats(job_id)
        return [
            r
            for r in store.committed_rounds()
            if store.read_commit(r).get("n_admitted", 0) > 0 and r not in verified
        ]

    def _verify_stats(self, admitted_keyed: DataFrame) -> dict:
        return (
            fetch_and_verify(self.spark, self.corpus_path, admitted_keyed, self.spec)
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("pixels_ok").cast("int")).alias("n_pixels_ok"),
                F.sum(F.col("phash_ok").cast("int")).alias("n_phash_ok"),
                F.sum(F.col("caption_ok").cast("int")).alias("n_caption_ok"),
                F.min("psnr").alias("min_psnr"),
            )
            .collect()[0]
            .asDict()
        )

    def reverify_round(self, job_id: str, r: int) -> dict:
        """Re-run payload verification for an already-committed round whose
        verify died pre-finalize (see unverified_rounds) and write its
        missing verify.json sidecar. The admitted set is re-derived from
        the PREVIOUS commit's frontier manifest — sub-round 0 re-ranks the
        pending components (the politeness schedule is a pure function of
        the data, so the slice is reproduced exactly), later sub-rounds
        read their stored due-slices — so this works as long as vacuum has
        not swept the consumed components; after that the inputs are gone
        and the read raises, which is the honest answer (re-verify before
        maintenance, or re-crawl the round)."""
        store = self.store(job_id)
        prev = store.read_commit(r - 1)
        manifest = prev["frontier_manifest"]
        d = min(e[1] for e in manifest)
        sub = prev["sub_round"] + 1 if prev["depth"] == d else 0
        entries_d = [e for e in manifest if e[1] == d]
        if sub == 0:
            pending = self._read_components(
                [os.path.join(store.dir, e[0]) for e in entries_d]
            )
            admitted = (
                pending
                if self.cfg.politeness is None
                else schedule(pending, self.cfg.politeness, grade=self._grade_col())[0]
            )
        else:
            consumed = [e for e in entries_d if len(e) > 3 and e[3] == sub]
            admitted = self._read_components(
                [os.path.join(store.dir, e[0]) for e in consumed]
            )
        admitted_keyed = admitted.withColumn(
            "image_id", U.image_id_of(F.col("url"))
        ).withColumn(
            "corpus_bucket",
            F.pmod(U.page_index(F.col("url")), F.lit(C.N_BUCKETS)).cast("int"),
        )
        stats = self._verify_stats(admitted_keyed)
        _atomic_write(
            os.path.join(store.round_dir(r), "verify.json"),
            json.dumps(
                {k: (float(v) if v is not None else None) for k, v in stats.items()}
            ).encode(),
        )
        return stats

    # ------------------------------------------------------------ compaction
    def compact_seen(self, job_id: str) -> dict:
        """Merge all current seen components (previous compaction + later
        per-round deltas) into ONE bucket-partitioned table and flip the
        store's compaction pointer to it — the Iceberg rewrite_data_files
        maintenance job for the seen set. Readers are unchanged during and
        after (seen_paths() swaps components for an identical row set);
        deltas stay on disk until vacuum() observes the new pointer, so a
        crash at any step leaves a consistent store. Deltas are disjoint by
        construction (a URL enters seen in exactly one round), so the merge
        is a plain union."""
        store = self.store(job_id)
        last = store.last_committed()
        paths = store.seen_paths()
        # one component with NO live tombstones is already compact; with
        # tombstones, compaction is what folds the deletes physically (and
        # lets vacuum drop the delete files), so it must proceed
        if last is None or not paths or (len(paths) == 1 and not store.tombstone_components()):
            return {"compacted": False, "n_components": len(paths)}
        # staging name is unique per attempt (see seen_compact_staging):
        # a concurrent compactor can never collide with — or delete — the
        # dir this attempt is about to flip the pointer to; crashed
        # attempts are swept by vacuum once aged
        staging = store.seen_compact_staging(last)
        df = self._seen_df(store)
        # one file per bucket (repartition BY the partition column before
        # partitionBy, else every input partition writes a file per bucket)
        (
            df.repartition(self.cfg.seen_buckets, F.col("seen_bucket"))
            .write.partitionBy("seen_bucket")
            .parquet(staging)
        )
        # flip is monotonic: if a concurrent compactor already published a
        # newer (or same-upto) generation, this attempt's staging dir is
        # left as an aged-out orphan for vacuum and readers keep the winner
        flipped = store.set_seen_compact(last, os.path.relpath(staging, store.dir))
        return {"compacted": flipped, "upto": last, "n_components": len(paths)}

    # ------------------------------------------------------------ unsee / recrawl
    def unsee_urls(self, job_id: str, urls, reseed: bool = False) -> dict:
        """Remove URLs from the job's seen set — the re-crawl primitive.
        The reference's only forget path is Redis cache-TTL expiry
        (RedisCache/cache.go:55-72: an expired entry makes the next job
        re-crawl from scratch); on a persistent 10^10-row seen table the
        analog is a targeted equality-delete, done Iceberg-style as
        merge-on-read: ONE committed tombstone round whose delete file-set
        (bucket-partitioned, same layout as new/) suppresses older seen
        rows at read time, folds physically at the next compaction, and is
        vacuumed once covered. No seen component is rewritten.

        Candidates are gated on the EXACT seen table (inner join), never
        trusted from user input. The Bloom blobs are left as they are: an
        unseen URL's stale positive bits stay, and the probe's exact
        re-check against the suppressed seen view rescues the URL as new.

        ``reseed=True`` re-enters the unseen URLs in the SAME committed
        round, at their ORIGINAL discovery depths (the tombstone rows carry
        them), so a subsequent ``run_job`` resume re-fetches their payloads
        without disturbing the crawl's depth structure (client_payload is
        depth-keyed). The reseed delta's effective round equals the
        tombstone round and the suppression rule is strict (t > c), so the
        re-added rows survive their own round's tombstone. One commit makes
        the whole operation atomic: a crash leaves either the old state or
        tombstone+reseed together — never URLs unseen but lost (a two-round
        layout would strand them, because re-running unsee gates on the
        seen set the crash already shrank). Returns
        {"round": r, "n_unseen": n, "n_reseeded": m}.

        Ownership contract: like run_job, this stages files into the next
        round's directory, so the caller must hold the job (one master) —
        the service path enforces it via ledger.reopen's CAS; two
        uncoordinated writers racing one round dir could interleave
        file-sets under a single commit. Same rule, same mechanism as
        crawl rounds."""
        import pandas as pd

        store = self.store(job_id)
        last = store.last_committed()
        if last is None:
            raise ValueError(f"unsee_urls: job {job_id!r} has no committed rounds")
        store.abort_round(last + 1)  # crash cleanup, same as resume
        r = last + 1
        url_list = [urls] if isinstance(urls, str) else list(urls)
        if not url_list:
            return {"round": last, "n_unseen": 0, "n_reseeded": 0}
        cand = self.spark.createDataFrame(pd.DataFrame({"url": url_list})).dropDuplicates(["url"])
        cand = self._with_keys(cand).withColumn("host", U.host_of(F.col("url")))
        # candidate buckets bound the seen scan (PartitionFilter-pruned);
        # the distinct-bucket collect is capped by cfg.seen_buckets
        bucket_list = [row[0] for row in cand.select("seen_bucket").distinct().collect()]
        seen = self._seen_df(store, buckets=bucket_list)
        if seen is None:
            raise ValueError(f"unsee_urls: job {job_id!r} has an empty seen set")
        # inner join keeps only real seen rows and carries their depth into
        # the tombstone schema; the seen view is already suppression-applied,
        # so a URL unseen twice is a no-op the second time
        tomb = cand.join(seen.select("url_hash", "depth"), "url_hash", "inner").select(
            "url", "host", "url_hash", "seen_bucket", "depth"
        )
        return self._unsee_frame(store, r, tomb, reseed)

    def unsee_matching(self, job_id: str, predicate, reseed: bool = False) -> dict:
        """Predicate form of unsee_urls — `DELETE FROM seen WHERE ...`, the
        Iceberg row-level-DML analog for deletes too big to ship as a URL
        list (recrawl a whole host, an entire depth, a URL prefix). The
        predicate (SQL string or Column over url/url_hash/depth/
        seen_bucket) is evaluated over the suppressed seen view, so the
        candidates are exact seen rows by construction (no gate join is
        needed); everything downstream — the tombstone round, atomic
        reseed at original depths — is shared with unsee_urls. One full
        seen scan, one pass: a maintenance-op cost profile, same as
        compact_seen."""
        store = self.store(job_id)
        last = store.last_committed()
        if last is None:
            raise ValueError(f"unsee_matching: job {job_id!r} has no committed rounds")
        store.abort_round(last + 1)
        seen = self._seen_df(store)
        if seen is None:
            raise ValueError(f"unsee_matching: job {job_id!r} has an empty seen set")
        expr = F.expr(predicate) if isinstance(predicate, str) else predicate
        tomb = seen.filter(expr).withColumn("host", U.host_of(F.col("url"))).select(
            "url", "host", "url_hash", "seen_bucket", "depth"
        )
        return self._unsee_frame(store, last + 1, tomb, reseed)

    def _unsee_frame(self, store: JobStateStore, r: int, tomb: DataFrame, reseed: bool) -> dict:
        """Shared tombstone+reseed commit path; `tomb` must hold exact
        current seen rows (url, host, url_hash, seen_bucket, depth)."""
        if reseed:
            tomb = tomb.persist()  # shared by the tombstone and reseed writes
        prev = store.read_commit(r - 1)
        self._check_filter_meta(prev)
        # the tombstone write leaves the Bloom blobs alone (bits cannot be
        # deleted; stale positives are rescued by the exact re-check), and
        # the reseed write re-adds into the previous blobs, a no-op for
        # bits already set
        touched: List[int] = []
        try:
            stats, _ = self._write_bucketed(
                store, store.tombstones_path(r), tomb, bloom_round=None,
            )
            n = sum(s[1] for s in stats)
            # replay the crawl cursor unchanged: the loop's depth/sub-round
            # arithmetic sees the same state it would without this round
            manifest = list(prev["frontier_manifest"])
            n_rs = 0
            if reseed and n > 0:
                rs = tomb if self.cfg.robots is None else tomb.filter(
                    ~blocked_expr(F.col("url"))
                )
                # the reseed delta is written twice on purpose: new/ (flat
                # bucketed — the seen component + filter re-add) and
                # deferred/due=<depth> slices (the frontier side needs one
                # file-set PER DEPTH because manifest entries are
                # single-depth; the politeness scheduler already committed
                # this slice layout). Both are tiny — recrawl-list sized.
                rs_stats, _ = self._write_bucketed(
                    store, store.new_path(r), rs, bloom_round=r, approx_rows=n
                )
                touched = sorted({s[0] for s in rs_stats})
                fr_stats, _ = self._write_bucketed(
                    store, store.deferred_path(r),
                    rs.withColumn("due", F.col("depth")), None,
                    slice_col="due", approx_rows=n,
                )
                per_depth: dict = {}
                for d0, _b, n_ in fr_stats:
                    per_depth[d0] = per_depth.get(d0, 0) + n_
                root = store.deferred_path(r)
                for d0 in sorted(per_depth):
                    manifest.append(
                        [self._rel(store, os.path.join(root, f"due={d0}")), d0, per_depth[d0], 0]
                    )
                n_rs = sum(s[1] for s in rs_stats)
            n_pending = sum(e[2] for e in manifest)
            # reseed entries reset the drain cursor to the seed round's
            # state (depth -1 / sub -1): the next _run_round must start the
            # min-depth's drain at sub-round 0 and re-schedule politeness
            # over ALL its entries. Replaying the old cursor verbatim would
            # deadlock when a reseed depth equals the cursor depth — the
            # sub-round would advance and the reseed slice (due tag 0)
            # would never be consumed. Without reseed the manifest is
            # untouched and the cursor replays exactly.
            reset = n_rs > 0
            store.commit_round(
                r,
                {
                    "depth": -1 if reset else prev["depth"],
                    "sub_round": -1 if reset else prev["sub_round"],
                    "depth_limit": prev.get("depth_limit"),
                    "n_pending_after": n_pending,
                    "frontier_manifest": manifest,
                    "done": n_pending == 0,
                    "tombstone": n,
                    "reseed": n_rs,
                },
                touched_blooms=touched,
            )
        finally:
            if reseed:
                tomb.unpersist()
        return {"round": r, "n_unseen": n, "n_reseeded": n_rs}

    # ------------------------------------------------------------ main loop
    def run_job(
        self,
        job_id: str,
        seed_url,
        depth: int,
        max_rounds: Optional[int] = None,
        on_round=None,
    ) -> dict:
        """Run (or resume) a crawl job to completion. `max_rounds` aborts
        after N committed rounds this invocation — the kill-and-resume test
        hook (W2). Returns a summary dict."""
        assert depth >= 1
        store = self.store(job_id)
        last = store.last_committed()
        if last is None:
            # crash cleanup for a death BETWEEN the round-0 staging writes
            # and commit_round(0): abort_round is a no-op unless an
            # uncommitted r0 dir exists, whose leftover frontier parquet
            # would otherwise fail the seed write with path-already-exists
            store.abort_round(0)
            self._seed_round(store, seed_url, depth)
            last = 0
        else:
            store.abort_round(last + 1)  # crash cleanup: drop uncommitted staging
        info = store.read_commit(last)
        self._check_filter_meta(info)
        depth_limit = info.get("depth_limit", depth)
        rounds_done = 0

        while not info.get("done"):
            if max_rounds is not None and rounds_done >= max_rounds:
                self._finalize_verify(store)  # drain the pipelined verify
                # a pre-submitted NEXT-round verify (if any) is deliberately
                # left in flight: a resume on this engine adopts it (same
                # store, same round number); an engine reused for another
                # job cancels+drains it at that job's submit point. It reads
                # only committed files and persists nothing, so an owner
                # that never resumes leaks no cached frames.
                return {"job_id": job_id, "done": False, "last_round": last}
            r = last + 1
            t0 = time.monotonic()
            stats = self._run_round(store, r, depth_limit)
            stats.wall_ms = int((time.monotonic() - t0) * 1000)
            self._write_round_metrics(store, r, stats)
            every = self.cfg.compact_seen_every
            if every and len(store.seen_paths()) > every:
                self.compact_seen(job_id)
            rounds_done += 1
            last = r
            info = store.read_commit(last)
            if on_round is not None:
                on_round(stats)

        # the LAST round's pipelined verify has no next round to hide
        # behind — overlap it with the job-end seen count instead (both
        # are independent job DAGs; FAIR shares slots)
        count_future = _pool_submit(self.spark, lambda: self.seen_df(job_id).count())
        try:
            self._finalize_verify(store)
        except BaseException:
            # a verify failure must not orphan the in-flight count job:
            # drain it (its own outcome is moot once verify failed)
            try:
                count_future.result()
            except Exception:
                pass
            raise
        return {
            "job_id": job_id,
            "done": True,
            "last_round": last,
            "n_seen": count_future.result(),
        }

    def _run_round(self, store: JobStateStore, r: int, depth_limit: int) -> RoundStats:
        phases: dict = {}

        def _mark(key, t0):
            phases[key] = round((time.monotonic() - t0) * 1000)
            return time.monotonic()
        payload_future = None
        deferred_future = None
        persisted: List[DataFrame] = []
        try:

            t = time.monotonic()
            prev = store.read_commit(r - 1)
            # the pending frontier is a MANIFEST of committed file-sets
            # ([relpath, depth, n_rows, due_sub]); the depth cursor, the
            # no-politeness admitted count, AND every later sub-round's admitted
            # count are manifest arithmetic — zero Spark jobs — and only the
            # file-sets the round actually drains are ever opened
            manifest = prev.get("frontier_manifest")
            if manifest is None:
                raise ValueError(
                    f"job store at {store.dir!r} was committed by a pre-manifest layout "
                    "(no frontier_manifest in commit.json); rerun the job in a fresh "
                    "warehouse — old stores are not migrated"
                )
            d = min(e[1] for e in manifest)
            sub = prev["sub_round"] + 1 if prev["depth"] == d else 0
            entries_d = [e for e in manifest if e[1] == d]
            n_pending_d = sum(e[2] for e in entries_d)

            # ---- admission. Sub-round 0 ranks the depth's ENTIRE pending set
            # once and writes each future sub-round's slice ONCE, partitioned by
            # its computed due sub-round (`ceil(rn/budget)-1`); every later
            # sub-round admits its slice purely BY MANIFEST REFERENCE — no
            # politeness window re-run, no deferred-set rewrite. (The old loop
            # re-ranked and REWROTE the whole remainder every sub-round: a
            # mega-host with M pending and budget k wrote O(M²/k) rows; this
            # writes O(M) total.)
            deferred_sched = None  # rows scheduled for future sub-rounds (sub 0 only)
            n_deferred = 0
            if sub == 0:
                consumed = entries_d
                pending = self._read_components(
                    [os.path.join(store.dir, e[0]) for e in consumed]
                )
                if self.cfg.politeness is None:
                    admitted = pending
                    persisted = [admitted.persist()]
                    n_admitted = n_pending_d
                else:
                    # persisted `ranked` ancestor: the host-window shuffle runs
                    # ONCE, shared by the admitted count and the deferred write
                    persisted = []
                    admitted, deferred_sched = schedule(
                        pending, self.cfg.politeness, persisted, grade=self._grade_col()
                    )
                    persisted.append(admitted.persist())
                    n_admitted = admitted.count()
                    n_deferred = n_pending_d - n_admitted
            else:
                consumed = [e for e in entries_d if len(e) > 3 and e[3] == sub]
                if not consumed:
                    raise ValueError(
                        f"no frontier slice due at depth {d} sub-round {sub}: "
                        f"schedule slices must be contiguous ({entries_d}). A "
                        "3-element entry here means the store was committed by "
                        "the pre-due-slice layout — rerun the job in a fresh "
                        "warehouse (old stores are not migrated)."
                    )
                admitted = self._read_components(
                    [os.path.join(store.dir, e[0]) for e in consumed]
                )
                persisted = [admitted.persist()]
                n_admitted = sum(e[2] for e in consumed)
            t = _mark("admit_ms", t)

            # ---- fetch: bucket-pruned corpus scan ⋈ broadcast(admitted)
            admitted_keyed = admitted.withColumn("image_id", U.image_id_of(F.col("url"))).withColumn(
                "corpus_bucket", F.pmod(U.page_index(F.col("url")), F.lit(C.N_BUCKETS)).cast("int")
            )
            payload_future = None
            early = self._early_verify
            if early is not None and (
                early[0].dir != store.dir or early[1] != r
            ):
                # stale early verify (engine reuse / abort between rounds):
                # CANCEL its Spark jobs first — this round must not block
                # synchronously behind a full verify of another job — then
                # drain best-effort and discard; never adopt across jobs
                self._early_verify = None
                try:
                    self.spark.sparkContext.cancelJobGroup(
                        f"verify:{early[0].dir}:r{early[1]}"
                    )
                except Exception:  # pragma: no cover - cancellation is best-effort
                    pass
                try:
                    early[2].result()
                except Exception:  # pragma: no cover - stale drain is best-effort
                    pass
                early = None
            if self.cfg.verify_payloads and n_admitted > 0 and early is not None and sub == 0 and self.cfg.politeness is None:
                # adopt the verify pre-submitted at the END of the previous
                # round over the identical committed row set (see the
                # early-submit block below) — it has been running through
                # this round's admit already
                self._early_verify = None
                payload_future = early[2]
            elif self.cfg.verify_payloads and n_admitted > 0:
                # run the payload fetch+decode CONCURRENTLY with the extraction/
                # dedup pipeline below — they share only the cached `admitted`
                # (Spark actions are thread-safe; two independent job DAGs).
                # Construction happens inside the thread too: fetch_join's
                # bucket-pruning collect would otherwise block this thread.
                def _verify():
                    t0 = time.monotonic()
                    stats = self._verify_stats(admitted_keyed)
                    # the verify job's own wall: with pipeline_verify the phase
                    # table only shows residual WAIT, so this is the one place
                    # an operator can still read what verification actually
                    # cost (slot-shared elapsed, not exclusive CPU). Sync mode
                    # keeps the stats deterministic — fetch_verify_wait_ms
                    # already carries the timing there.
                    if self.cfg.pipeline_verify:
                        stats["verify_wall_ms"] = round((time.monotonic() - t0) * 1000)
                    return stats

                payload_future = _pool_submit(
                    self.spark, _verify, group=f"verify:{store.dir}:r{r}"
                )
            t = _mark("fetch_submit_ms", t)

            # ---- extract + dedup + seen anti-join + robots (skip at last depth, F4)
            n_candidates = n_new = n_blocked = 0
            new_rows = None
            if d + 1 < depth_limit and n_admitted > 0:
                # extraction parallelism must not be bound to the frontier's
                # file count — pin it to 2× cores (CPU-bound Python stage;
                # finer tasks smooth stragglers)
                extract_input = admitted_keyed.repartition(2 * self.spark.sparkContext.defaultParallelism)
                links = extract_links(extract_input, self.spec)
                keyed = self._with_keys(links.select("url", "host"))
                if self.cfg.robots is not None:
                    # blocked URLs never enter the seen set, so the robots filter
                    # commutes with both dedup stages; counting BEFORE the
                    # within-round dedup is multiplicity-preserving — every
                    # discovery occurrence of a blocked URL counts, matching the
                    # oracle (oracle/crawler.py:141-147) at any depth, not just
                    # where the fixture happens to have no within-round dups.
                    # The count is metrics-only, so it is gated like n_candidates
                    # (-1 when detailed metrics are off — no extra job per round)
                    keyed = keyed.withColumn("_blocked", blocked_expr(F.col("url"))).persist()
                    persisted.append(keyed)
                    n_blocked = keyed.filter(F.col("_blocked")).count() if self.cfg.detailed_metrics else -1
                    keyed = keyed.filter(~F.col("_blocked")).drop("_blocked")
                # U3 within-round dedup fused with the U2 cross-depth probe —
                # one exchange for both (see _filter_new); `deduped` is the
                # distinct candidate view for metrics
                fresh, deduped = self._filter_new(store, keyed, persisted)
                n_candidates = deduped.count() if self.cfg.detailed_metrics else -1
                new_rows = fresh.withColumn("depth", F.lit(d + 1)).select(
                    "url", "host", "url_hash", "seen_bucket", "depth"
                )

            # ---- stage writes into the round dir (visible only after commit):
            # ONE fused shuffle+write job for the new URLs (parquet + seen delta
            # + bloom blobs all from the same pass, counts from its stats — no
            # read-back), a second ONLY at sub-round 0 when politeness scheduled
            # future slices (written once, partitioned by due sub-round), and NO
            # next-frontier rewrite: untouched depths AND not-yet-due slices
            # carry over in the manifest by reference
            t = _mark("extract_dedup_ms", t)
            deferred_future = (
                _pool_submit(
                    self.spark,
                    self._write_bucketed, store, store.deferred_path(r), deferred_sched, None, "due",
                    n_deferred,
                    group=f"defwrite:{store.dir}:r{r}",
                )
                if n_deferred > 0
                else None
            )
            touched: List[int] = []
            n_new = 0
            if new_rows is not None:
                # upper bound on the write's row count (new <= candidates <=
                # admitted × max out-degree): over-estimating only shrinks the
                # chunked groups, never breaks the memory guard
                stats, write_task_ms = self._write_bucketed(
                    store, store.new_path(r), new_rows, bloom_round=r,
                    approx_rows=n_admitted * C.MAX_OUT_DEGREE,
                )
                touched = sorted({s[0] for s in stats})
                n_new = sum(s[1] for s in stats)
                # worker-side breakdown of THIS write job (summed across its
                # tasks): lets the bench attribute writes_ms to Arrow
                # conversion / parquet encode / bloom fold vs shuffle+sched.
                # Returned with the stats (not an instance attribute) so the
                # concurrent deferred-slice write can't clobber it.
                for k, v in write_task_ms.items():
                    phases[f"write_{k}"] = v
            sched_entries: List[list] = []
            if deferred_future is not None:
                def_stats, _ = deferred_future.result()
                n_def_written = sum(s[2] for s in def_stats)
                # self-check: the manifest records arithmetic (pending - admitted);
                # the write stats come back for free — any divergence (e.g. a
                # future budget expression breaking admit/schedule complementarity)
                # must fail loudly, not corrupt n_pending_after / the done flag
                if n_def_written != n_deferred:
                    raise AssertionError(
                        f"deferred write produced {n_def_written} rows, expected {n_deferred}"
                    )
                per_due: dict = {}
                for due, _b, n in def_stats:
                    per_due[due] = per_due.get(due, 0) + n
                root = store.deferred_path(r)
                sched_entries = [
                    [self._rel(store, os.path.join(root, f"due={due}")), d, per_due[due], due]
                    for due in sorted(per_due)
                ]
            payload_stats = None
            if self.cfg.pipeline_verify:
                # this round's verify keeps running through the NEXT round's
                # compute; await the PREVIOUS round's instead (it has had a full
                # round of overlap), so per-round wall is max(verify, rest),
                # not their sum. This round's persisted frames stay alive until
                # its verify finalizes.
                t = _mark("writes_ms", t)
                self._finalize_verify(store)
                if payload_future is None:
                    for df_ in persisted:
                        df_.unpersist()
                _mark("fetch_verify_wait_ms", t)
            else:
                for df_ in persisted:
                    df_.unpersist()
                t = _mark("writes_ms", t)
                payload_stats = payload_future.result() if payload_future is not None else None
                _mark("fetch_verify_wait_ms", t)

            consumed_ids = {id(e) for e in consumed}
            next_manifest = [e for e in manifest if id(e) not in consumed_ids]
            next_manifest.extend(sched_entries)
            if n_new > 0:
                next_manifest.append([self._rel(store, store.new_path(r)), d + 1, n_new, 0])
            next_manifest = self._compact_manifest(store, r, next_manifest, phases)
            n_pending_after = sum(e[2] for e in next_manifest)

            info = {
                "depth": int(d),
                "sub_round": int(sub),
                "depth_limit": depth_limit,
                "n_admitted": n_admitted,
                "n_new": n_new,
                "n_pending_after": n_pending_after,
                "frontier_manifest": next_manifest,
                "done": n_pending_after == 0,
            }
            if payload_stats:
                info["payload"] = {k: (float(v) if v is not None else None) for k, v in payload_stats.items()}
            info["phases"] = phases
            store.commit_round(r, info, touched_blooms=touched)
            if self.cfg.pipeline_verify and payload_future is not None:
                # stash AFTER commit: the finalize (next round / job end) writes
                # the stats sidecar into this round's already-committed dir
                self._verify_inflight = (store, r, payload_future, persisted)
            if (
                self.cfg.pipeline_verify
                and self.cfg.verify_payloads
                and self.cfg.politeness is None
                and n_new > 0
                and not info["done"]
                and d + 2 >= depth_limit
                and all(e[1] == d + 1 for e in next_manifest)
            ):
                # EARLY-SUBMIT the NEXT (final-depth) round's verify over the
                # rows just committed (r8 verdict Next #2): the final round
                # does no extraction, so its verify — the job's largest —
                # used to start only at that round's head and finalize with
                # nothing to hide behind but the job-end seen count. With
                # politeness off the next round admits EXACTLY this
                # manifest (one depth, sub-round 0), so the verify input —
                # re-read from the committed files, like the next round
                # will — is row-identical and the stats sidecar unchanged.
                nxt = self._read_components(
                    [os.path.join(store.dir, e[0]) for e in next_manifest]
                )
                nxt_keyed = nxt.withColumn(
                    "image_id", U.image_id_of(F.col("url"))
                ).withColumn(
                    "corpus_bucket",
                    F.pmod(U.page_index(F.col("url")), F.lit(C.N_BUCKETS)).cast("int"),
                )
                t0e = time.monotonic()

                def _early():
                    stats = self._verify_stats(nxt_keyed)
                    stats["verify_wall_ms"] = round((time.monotonic() - t0e) * 1000)
                    return stats

                self._early_verify = (
                    store,
                    r + 1,
                    _pool_submit(self.spark, _early, group=f"verify:{store.dir}:r{r + 1}"),
                )
            return RoundStats(
                round=r,
                depth=int(d),
                sub_round=int(sub),
                n_admitted=n_admitted,
                n_candidates=n_candidates,
                n_new=n_new,
                n_blocked=n_blocked,
                n_pending_after=n_pending_after,
                wall_ms=0,
            )
        except BaseException:
            # a mid-round failure must not leak this round's in-flight
            # concurrent jobs or cached frames: the verify/deferred futures
            # would otherwise run unobserved (and their persisted inputs
            # stay pinned forever — _verify_inflight is only stashed on the
            # success path, AFTER commit). CANCEL their Spark jobs first —
            # the verify is the round's longest job and an interrupt
            # (Ctrl-C, timeout) must not block its own cleanup behind a
            # full verify run — then drain, release, re-raise; the futures'
            # own outcomes are moot once the round failed.
            # r-1's group too: with pipeline_verify the longest wait in the
            # round is _finalize_verify awaiting the PREVIOUS round's verify
            # — an interrupt usually lands exactly there, and that job would
            # otherwise keep running unobserved after its input frames were
            # unpersisted by finalize's cleanup
            for g in (
                f"verify:{store.dir}:r{r}",
                f"defwrite:{store.dir}:r{r}",
                f"verify:{store.dir}:r{r - 1}",
                f"verify:{store.dir}:r{r + 1}",  # an early-submitted next-round verify
            ):
                try:
                    self.spark.sparkContext.cancelJobGroup(g)
                except Exception:  # pragma: no cover - cancellation is best-effort
                    pass
            early_fut = self._early_verify[2] if self._early_verify is not None else None
            self._early_verify = None
            for fut in (payload_future, deferred_future, early_fut):
                if fut is not None:
                    try:
                        fut.result()
                    except Exception:
                        pass
            for df_ in persisted:
                try:
                    df_.unpersist()
                except Exception:
                    pass
            raise

    def _write_round_metrics(self, store: JobStateStore, r: int, s: RoundStats) -> None:
        """Per-round lineage/metrics row (north rule; generalizes the
        reference's status histogram, master.go:575-596 A3). One row per
        round → written driver-side with pyarrow (a Spark job for a single
        row costs seconds of scheduling); read back as a normal parquet
        table by metrics_df."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(store.metrics_path(r), exist_ok=True)
        table = pa.table(
            {
                "round": pa.array([s.round], pa.int32()),
                "depth": pa.array([s.depth], pa.int32()),
                "sub_round": pa.array([s.sub_round], pa.int32()),
                "n_admitted": pa.array([s.n_admitted], pa.int64()),
                "n_candidates": pa.array([s.n_candidates], pa.int64()),
                "n_new": pa.array([s.n_new], pa.int64()),
                "n_blocked": pa.array([s.n_blocked], pa.int64()),
                "n_pending_after": pa.array([s.n_pending_after], pa.int64()),
                "wall_ms": pa.array([s.wall_ms], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(store.metrics_path(r), "part-0.parquet"))

    # ------------------------------------------------------------ readers
    def seen_df(self, job_id: str) -> DataFrame:
        store = self.store(job_id)
        df = self._seen_df(store)
        if df is None:
            return self.spark.createDataFrame(
                [], "url_hash long, url string, depth int, seen_bucket int, seen_round int"
            )
        return df

    def seen_df_at(self, job_id: str, r: int) -> DataFrame:
        """Time-travel read — the seen table AS OF committed round `r`
        (the Iceberg snapshot-read analog; every commit_round IS a
        snapshot). Reconstructs the merge-on-read view from the round-r
        prefix of history: components with effective round <= r,
        suppressed by tombstones in rounds <= r under the same strict
        t > c rule as the live view, so `seen_df_at(last_committed)`
        equals `seen_df` row-for-row.

        Snapshot retention follows the files: a snapshot stays readable
        while its rounds' file-sets exist — compaction alone does NOT
        expire it (the covered deltas stay on disk until vacuum), but
        once vacuum() sweeps a needed round this raises, exactly
        Iceberg's expire-snapshots semantics (and the same contract as
        seen_changes / catalog CDC)."""
        store = self.store(job_id)
        last = store.last_committed()
        if last is None or not (0 <= r <= last):
            raise ValueError(
                f"seen_df_at: round {r} is not a committed round of job "
                f"{job_id!r} (last committed: {last})"
            )
        sc = store.read_seen_compact()
        comps: List[tuple] = []
        tombs: List[tuple] = []
        lo = -1
        if sc is not None and sc["upto"] <= r:
            # the live compaction is a valid prefix of this snapshot: its
            # rows and folded deletes all belong to rounds <= upto <= r
            comps.append((sc["upto"], os.path.join(store.dir, sc["path"])))
            lo = sc["upto"]
        for rr in store.committed_rounds():
            if rr > r:
                break
            if rr <= lo:
                continue  # folded into the compaction prefix
            info = store.read_commit(rr)
            n_ins = info.get("n_new", 0) + info.get("reseed", 0)
            if rr == 0:
                n_ins = info.get("n_pending_after", 0)
            if n_ins > 0:
                p = store.seen_delta_path(rr)
                if not os.path.isdir(p):
                    raise ValueError(
                        f"seen_df_at: snapshot at round {r} has expired — "
                        f"round {rr}'s delta files were compacted and vacuumed"
                    )
                comps.append((rr, p))
            if info.get("tombstone", 0) > 0:
                p = store.tombstones_path(rr)
                if not os.path.isdir(p):
                    raise ValueError(
                        f"seen_df_at: snapshot at round {r} has expired — "
                        f"round {rr}'s delete files were vacuumed"
                    )
                tombs.append((rr, p))
        df = self._seen_view(comps, tombs)
        if df is None:
            return self.spark.createDataFrame(
                [], "url_hash long, url string, depth int, seen_bucket int, seen_round int"
            )
        return df

    def results_df(self, job_id: str) -> DataFrame:
        """Normalized D2 view: (job_id, depth, url) = first-discovery depth
        of every URL that entered the task maps (U4 includes all statuses)."""
        return self.seen_df(job_id).select(
            F.lit(job_id).alias("job_id"), F.col("depth"), F.col("url")
        )

    def seen_changes(self, job_id: str, from_round: int = -1) -> DataFrame:
        """Incremental changelog of the seen table SINCE `from_round`
        (exclusive) — the Iceberg incremental-read / changelog-scan analog
        over the crawl's main data table, and the batch counterpart of the
        reference's per-job DoneJob result push (websocketserver S6): a
        downstream consumer (e.g. a training-data pipeline ingesting crawl
        output) re-reads only the rounds it has not seen, never the table.

        Rows are `(url_hash, url, depth, seen_bucket, round, change_type)`
        with change_type `insert` (a round's new/ delta: seed, crawl
        discoveries, or reseeds) or `delete` (a round's tombstones from
        unsee_urls). Within one round a consumer must apply deletes BEFORE
        inserts — the atomic unsee+reseed round emits both for the same
        URL, and the engine's own suppression rule is strict (a tombstone
        kills only strictly-older rows), so delete-then-insert replays to
        the same state. Folding the full changelog from round -1
        reproduces seen_df exactly (tests pin this).

        History expires like any Iceberg changelog: once compact_seen has
        folded a round and vacuum() has swept its files, reading a range
        that needs that round raises — start from a later round instead
        (mirrors catalog/changes.py's expired-start contract)."""
        store = self.store(job_id)
        last = store.last_committed()
        schema = "url_hash long, url string, depth int, seen_bucket int"
        out_schema = schema + ", round int, change_type string"
        if last is None:
            return self.spark.createDataFrame([], out_schema)
        if from_round > last:
            raise ValueError(
                f"seen_changes: from_round {from_round} is beyond the newest "
                f"committed round {last}"
            )

        def read(path: str, r: int, kind: str) -> DataFrame:
            return (
                self.spark.read.schema(schema).parquet(path)
                .withColumn("round", F.lit(r))
                .withColumn("change_type", F.lit(kind))
            )

        parts = []
        for r in store.committed_rounds():
            if r <= from_round:
                continue
            info = store.read_commit(r)
            # inserted seen rows this round: crawl discoveries (n_new),
            # reseeds, or the seed batch itself (round 0's pending count —
            # the seed write is both frontier and seen delta)
            n_ins = info.get("n_new", 0) + info.get("reseed", 0)
            if r == 0:
                n_ins = info.get("n_pending_after", 0)
            if n_ins > 0:
                p = store.seen_delta_path(r)
                if not os.path.isdir(p):
                    raise ValueError(
                        f"seen_changes: round {r}'s insert files have expired "
                        "(compacted and vacuumed) — start from a later round"
                    )
                parts.append(read(p, r, "insert"))
            if info.get("tombstone", 0) > 0:
                p = store.tombstones_path(r)
                if not os.path.isdir(p):
                    raise ValueError(
                        f"seen_changes: round {r}'s delete files have expired "
                        "(compacted and vacuumed) — start from a later round"
                    )
                parts.append(read(p, r, "delete"))
        if not parts:
            return self.spark.createDataFrame([], out_schema)
        from functools import reduce

        return reduce(DataFrame.unionByName, parts)

    def metrics_df(self, job_id: str) -> DataFrame:
        paths = self.store(job_id).metrics_paths()
        return self.spark.read.parquet(*paths)

    def client_payload(self, job_id: str, depth: int) -> List[List[str]]:
        """The reference's DoneJob.Results [][]string (transferObjects.go:17-23):
        outer index = depth, inner = sorted URLs (within-depth order is
        nondeterministic in the reference — compare as sets)."""
        rows = (
            self.results_df(job_id)
            .groupBy("depth")
            .agg(F.sort_array(F.collect_set("url")).alias("urls"))
            .collect()
        )
        by_depth = {row["depth"]: row["urls"] for row in rows}
        return [sorted(by_depth.get(i, [])) for i in range(depth)]
