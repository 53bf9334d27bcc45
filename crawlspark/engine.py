"""The crawl engine: an iterative-DataFrame-jobs realization of the
reference's queue/dispatch/worker lifecycle (Q2/Q7, crawler.go:275-367,
queue.go:102-143) — north rule: round-based batch, checkpointed and
resumable, deterministic at any parallelism.

Round r (SURVEY.md §3 lifecycle):

    frontier_r (parquet snapshot)
      → politeness schedule: two-phase per-host top-k          [Q5]
      → uniform salted repartition for the fetch stage         [Q4]
      → robots broadcast gate (denied = counted failures)      [F5]
      → guards + resolver join against pages                   [F3,F4,SRC3,F6]
      → one mapInArrow: parse + links + spans                 [P1-P4]
      → documents / order / metrics appends                    [SNK1,SNK2]
      → link resolve (pandas UDF) → native accept filter       [U1,F1]
      → first-wins window → anti-join seen → budget            [Q1]
      → frontier_{r+1} = carryover ∪ fresh (snapshot write)
    terminate when the frontier is empty (≙ TTL fixpoint, Q2) or the
    round cap is hit. Every table append is keyed by round ⇒ resumable
    from any round boundary; a torn round overwrites itself on retry.

Determinism: every ordering is an explicit sort on
(parent disc_order, link_index) — the canonical single-worker FIFO order —
so two runs (or two parallelism levels) produce byte-identical crawl
order, seen set, and span documents. Verified against crawlspark.oracle.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Optional, Sequence

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import canon
from .fetch import resolve_fetch
from .frontier import dedup_candidates, leaf, order_buckets, release
from .parse import mark_dirty, parse_stage
from .robots import apply_robots
from .schedule import schedule_round, spread_for_fetch
from .schemas import SEEDS
from .storage import CheckpointStore

# seen-probe guard: a round's candidate-key set is estimated as its
# accepted count × this many bytes (url_key strings plus hash-relation
# overhead) against CrawlConfig.broadcast_probe_max_bytes
_PROBE_KEY_BYTES = 128


def _parallel_jobs(*thunks) -> list:
    """Run independent Spark actions concurrently from driver threads.

    Each round's tail is a set of INDEPENDENT sink jobs (order append,
    seen append, bloom roll, lineage/metrics appends, frontier snapshot)
    that all read already-cached inputs; running them sequentially adds
    their fixed job-submission + commit latencies to every round's
    critical path — a driver-serial term that does not shrink with
    executors (the Amdahl denominator of the N→4N scaling gate). Driver
    threads submit them as concurrent jobs instead; the scheduler
    interleaves their (small) task sets across free slots. Results are
    returned in thunk order; the first exception propagates."""
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futs = [ex.submit(t) for t in thunks]
        return [f.result() for f in futs]


@dataclass
class CrawlConfig:
    checkpoint_dir: str
    host: str = ""  # single-host mode (reference-exact)
    multi_host: bool = False
    hosts: Optional[Sequence[str]] = None  # allowed hosts (multi mode)
    limit: int = 0  # MaxEnqueue; exactly limit+1 pushes succeed
    reject: Sequence[str] = field(default_factory=tuple)
    accept: Sequence[str] = field(default_factory=tuple)
    host_budget: int = 0  # per-host per-round politeness budget
    priority_order: bool = False
    max_rounds: int = 0
    num_partitions: Optional[int] = None
    broadcast_pages: bool = True  # pages table small enough to broadcast
    # Bloom prefilter (crawlspark.bloom): exactness-safe anti-join bypass
    use_bloom: bool = False
    bloom_buckets: int = 16
    bloom_bits: int = 1 << 20  # 128 KiB per bucket (sandbox-sized default)
    # Seen-set membership probe (frontier._anti_seen), picked PER ROUND
    # from the fused agg's already-collected candidate count: the
    # "broadcast" probe streams the seen table with zero exchange/sort
    # and is used only while the round's candidate-key set (estimated at
    # _PROBE_KEY_BYTES per accepted candidate) fits this byte budget;
    # larger rounds take the shuffling "merge" anti-join. Both are exact.
    # Nothing else bounds the round (the default config has
    # host_budget=0 — unbounded), so an unguarded broadcast would be a
    # driver-OOM/job-killer at 100x (VERDICT r2 §wrong #1); the
    # reference's analogue is queue backpressure (queue.go:43-44).
    broadcast_probe_max_bytes: int = 64 << 20
    # Seen-table bucket count (>= 1): every seen append is
    # directory-partitioned by kbucket = pmod(xxhash64(seen_key), B), and
    # each round's seen read is PRUNED to the buckets the round's
    # candidate keys actually hash into (collected for free inside the
    # fused round agg). Plain parquet cannot declare its hash layout to
    # Catalyst, so the merge anti-join still exchanges the pruned subset
    # (the broadcast probe is already exchange-free on the seen side) —
    # but the scan touches only matching buckets instead of every file
    # every round.
    seen_buckets: int = 64
    # Robots crawl-delay → per-host politeness budgets (README.md:9-10):
    # when round_wall_secs > 0, a host with a robots crawl-delay d gets a
    # per-round budget of ceil(round_wall_secs / d); hosts WITHOUT a
    # crawl-delay rule use the default delay (crawler.go:110-113 — the
    # configured delay applies only "if there is not robots.txt crawl
    # delay"). host_budget, when set, still acts as the fallback cap.
    round_wall_secs: float = 0.0
    default_delay_secs: float = 3.0  # reference DefaultDelay, crawler.go:22
    # User-hook seams (the reference's pluggable callables, lifted into
    # the pandas stages — cloudpickled to executors):
    #   accept_fn(url_str) -> bool  REPLACES the default accept filter F1
    #     (IsAcceptedFunc, crawler.go:96-97); pre-fetch host guards (F3)
    #     still apply, exactly as in the reference.
    #   process_fn(url_str, spans: list[dict]) -> list[dict]  span
    #     post-hook before the documents write (ProcessFunc,
    #     crawler.go:99-100).
    #   remove_fn(ch) -> bool  rune-removal pre-pass ahead of whitespace
    #     normalization (transform.RemoveFunc, transform/transform.go:46).
    accept_fn: Optional[object] = None
    process_fn: Optional[object] = None
    remove_fn: Optional[object] = None
    # Seen-table compaction cadence: when >= fanin seen batch dirs exist,
    # merge them into one bucket-partitioned dir (storage.compact) so a
    # long crawl's per-round seen scan reads O(fanin x buckets) files
    # instead of O(rounds x buckets). 0 disables.
    seen_compact_fanin: int = 16

    def __post_init__(self):
        if self.seen_buckets < 1:
            raise ValueError("seen_buckets must be >= 1")
        # accept/reject regexes are evaluated under THREE dialects
        # (Python re in oracle/pandas, Java rlike natively, Go RE2 in the
        # reference) — reject dialect-divergent constructs up front
        from .purl import validate_pattern

        for pat in list(self.reject) + list(self.accept):
            validate_pattern(pat)


@dataclass
class CrawlResult:
    store: CheckpointStore
    rounds: int
    pushed: int
    limit_reached: bool

    def order_df(self) -> DataFrame:
        return self.store.read("order")

    def seen_df(self) -> DataFrame:
        return self.store.read("seen")

    def documents_df(self) -> DataFrame:
        return self.store.read("documents")

    def metrics_df(self) -> DataFrame:
        return self.store.read("metrics")

    def lineage_df(self) -> DataFrame:
        return self.store.read("lineage")


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        config: CrawlConfig,
        robots_rules: Optional[DataFrame] = None,
    ):
        self.spark = spark
        self.cfg = config
        self.P = P = (
            config.num_partitions or spark.sparkContext.defaultParallelism
        )
        if config.broadcast_pages:
            self.pages = pages
        else:
            # co-locate the web table by the fetch-join key ONCE (the
            # in-sandbox analogue of bucketing the pages table):
            # every round's resolver join then reads this cached layout
            # with no exchange and no sort on the big side.
            # DISK_ONLY, deliberately: the web table (HTML bodies — by far
            # the largest state in the job) must never be RESIDENT in
            # executor heap. A heap-resident web cache is (1) impossible at
            # 100 TB and (2) measurably toxic in-sandbox: it inflates G1
            # mixed-collection copying cost for the whole job and evicts
            # the per-round caches that are actually hot (parsed,
            # cands_raw), causing recompute storms. The disk store lands on
            # spark.local.dir (tmpfs in the bench = OS page cache, zero
            # GC); the cached partitioning still avoids the per-round
            # exchange+sort on the big side.
            self.pages = pages.repartition(P, "host", "url_key").persist(
                StorageLevel.DISK_ONLY
            )
        self.robots = robots_rules
        # compile the (broadcast-small) rule set once so the per-round
        # gate is a narrow literal-map projection — no join, no window
        # shuffle (falls back to the broadcast-join path when the rule
        # set exceeds the compile cutoff)
        from .robots import compile_robots

        self._robots_compiled = compile_robots(robots_rules)
        self.store = CheckpointStore(spark, config.checkpoint_dir)
        self.udfs = canon.register_udfs()
        if config.multi_host:
            if config.hosts is not None:
                # dedupe user-supplied hosts: the accept join is a plain
                # left join (lineage needs the unmatched rows), so a
                # duplicate host entry would duplicate candidate rows and
                # inflate lineage counts (ADVICE r2)
                self._hosts_df = spark.createDataFrame(
                    [(h,) for h in dict.fromkeys(config.hosts)],
                    "host string",
                )
            else:
                # default discovery stays a DataFrame end-to-end: no
                # driver collect of the host universe (10^6+ hosts at web
                # scale would be a plan/driver killer); the broadcast
                # exchanges downstream materialize it executor-side
                self._hosts_df = pages.select("host").distinct().persist()
        else:
            self._hosts_df = None
        # per-round seen-probe decisions ("broadcast"/"merge"), appended
        # by run() — observability for the auto guard (and its tests)
        self.probe_choices: list = []
        # driver-cached bloom bitmaps (bucket -> np.uint64 words): the
        # probe broadcasts them from the driver anyway, so the dict IS
        # the working copy; the per-round parquet batch is the durable
        # mirror (written driver-side — see _roll_bloom_local)
        self._bloom_dict = None
        # pipelined round commit (see run()): the pending commit future,
        # the order-append pool of the round in flight (until its commit
        # owns it), the in-memory next-frontier handoff, and the frontier
        # leaf the NEXT commit must release
        self._pending_commit = None
        self._commit_pool = None
        self._order_pool = None
        self._next_frontier = None
        self._frontier_handle = None
        # robots crawl-delay → per-host budgets (broadcast policy state)
        self._host_budgets = None
        self._default_budget = 0
        if config.round_wall_secs > 0:
            import math as _math

            from .robots import robots_budgets

            self._default_budget = _math.ceil(
                config.round_wall_secs / config.default_delay_secs
            )
            if robots_rules is not None:
                self._host_budgets = robots_budgets(
                    robots_rules, config.round_wall_secs,
                    config.default_delay_secs,
                )

    def _append_seen(self, fresh: DataFrame, batch: int) -> None:
        """Append fresh keys to the seen table, directory-partitioned by
        kbucket = pmod(xxhash64(key), seen_buckets)."""
        buckets = self.cfg.seen_buckets
        rows = fresh.select(
            F.col("seen_key").alias("url_key"),
            F.xxhash64("seen_key").alias("key_hash"),
            F.lit(batch).alias("first_round"),
        ).withColumn("kbucket", F.pmod(F.col("key_hash"), F.lit(buckets)))
        # hash-repartition on the bucket BEFORE the partitionBy write:
        # without it every write task opens a dynamic-partition writer per
        # bucket it sees (tasks x buckets small files + per-task writer
        # state — measured 3x task-time inflation of the seen append at
        # local[8] vs local[2]). With it each bucket is written by exactly
        # ONE task (single-writer-per-bucket: one file per bucket dir per
        # round). Note this is NOT one-bucket-per-task: bucket→partition
        # hash collisions mod numPartitions can co-locate several buckets
        # in one task (skewing write tasks, leaving others empty), and
        # with P < seen_buckets a task necessarily writes several files.
        rows = rows.repartition(min(buckets, self.P), F.col("kbucket"))
        self.store.append("seen", rows, batch, partition_by=["kbucket"])

    # -- driver-side sinks ---------------------------------------------
    # metrics/lineage/bloom carry O(bytes) per round but each Spark write
    # is a full job (plan+submit+commit, ~0.5-2 s) on the round's critical
    # path — a level-independent serial term of the N→4N scaling gate.
    # The driver already holds every value; write them driver-side into
    # the identical batch layout (storage.append_local).

    def _append_metrics_local(self, r, n_sched, n_ok, n_kept) -> None:
        import pyarrow as pa

        schema = pa.schema([
            ("round", pa.int32()), ("scheduled", pa.int64()),
            ("fetched_ok", pa.int64()), ("failed", pa.int64()),
            ("new_urls", pa.int64()),
        ])
        self.store.append_local(
            "metrics",
            {"round": [r], "scheduled": [n_sched], "fetched_ok": [n_ok],
             "failed": [n_sched - n_ok], "new_urls": [n_kept]},
            schema, r,
        )

    def _append_lineage_local(self, r, reasons) -> None:
        import pyarrow as pa

        schema = pa.schema([
            ("round", pa.int32()), ("reason", pa.string()),
            ("n", pa.int64()),
        ])
        self.store.append_local(
            "lineage",
            {"round": [r] * len(reasons),
             "reason": [x[0] for x in reasons],
             "n": [int(x[1]) for x in reasons]},
            schema, r,
        )

    # -- bloom (driver-cached working copy + durable per-round mirror) --
    def _bloom_cfg(self):
        from . import bloom as bloom_mod

        return bloom_mod.BloomConfig(
            buckets=self.cfg.bloom_buckets,
            bits_per_bucket=self.cfg.bloom_bits,
        )

    def _ensure_bloom(self, r: int) -> None:
        """Populate the driver bloom dict for round r (resume path: read
        the checkpointed batch; in-session the dict is already current)."""
        if self._bloom_dict is None:
            from . import bloom as bloom_mod

            df = self.store.read_batch("bloom", r)
            if df is not None:
                self._bloom_dict = bloom_mod.to_dict(df)

    def _collect_fresh_bitmaps(self, fresh: DataFrame) -> dict:
        """ONE distributed job: per-bucket bitmaps of the round's fresh
        keys (≤ buckets × bits/8 bytes reach the driver)."""
        from . import bloom as bloom_mod

        return bloom_mod.to_dict(
            bloom_mod.build_or_update(
                fresh.select("seen_key"), "seen_key", None, self._bloom_cfg()
            )
        )

    def _roll_bloom_local(self, fresh_bitmaps: Optional[dict], batch: int) -> None:
        """OR the fresh bitmaps into the driver dict and write the rolled
        snapshot as bloom batch ``batch`` — no Spark job (the old path per
        round: parquet read + merge applyInPandas + write = 3 jobs)."""
        import numpy as np

        if fresh_bitmaps is None and self._bloom_dict is None:
            return
        d = dict(self._bloom_dict or {})
        for b, words in (fresh_bitmaps or {}).items():
            d[b] = np.bitwise_or(d[b], words) if b in d else words
        self._bloom_dict = d
        import pyarrow as pa

        schema = pa.schema([("bucket", pa.int32()), ("bitmap", pa.binary())])
        buckets = sorted(d)
        self.store.append_local(
            "bloom",
            {"bucket": buckets,
             "bitmap": [d[b].tobytes() for b in buckets]},
            schema, batch,
        )

    # -- pipelined round commit ----------------------------------------
    def _join_commit(self) -> None:
        """Block until the previous round's commit chain (sinks + state +
        compaction) finishes; propagate its exception if it failed."""
        if self._pending_commit is not None:
            f, self._pending_commit = self._pending_commit, None
            f.result()

    # -- key derivation -------------------------------------------------
    def _seen_key(self):
        if self.cfg.multi_host:
            return F.concat(F.col("host"), F.col("url_key"))
        return F.col("url_key")

    # -- seeding (Start: sitemap entries first, then seeds) -------------
    def _init_frontier(
        self, seeds, sitemap_entries: Optional[DataFrame]
    ) -> tuple[int, bool]:
        """Build the round-0 frontier. ``seeds`` is either a small Python
        sequence of URL strings (reference-style Start call) or a
        DataFrame with (url, seed_order[, priority]) — the scale path: a
        10^8-row seed table never round-trips through the driver.
        Sitemap entries are pushed BEFORE seeds (crawler.go:313-331) —
        since round 4 also as a pure DataFrame union (a 10^7-entry
        sitemap index used to .collect() to the driver): sitemap rows
        keep their entry_order as the push-order key and seeds are
        offset past max(entry_order), so the only driver traffic is one
        scalar agg. entry_order must be distinct (sitemapsrc emits a
        dense 0..n-1) — ties would make the push order nondeterministic."""
        order = 0
        smdf = None
        if sitemap_entries is not None:
            smdf = sitemap_entries.select(
                F.col("loc").alias("url"),
                F.col("entry_order").cast("int").alias("seed_order"),
                F.coalesce(F.col("priority").cast("double"), F.lit(0.0))
                .alias("priority"),
            )
            hi = smdf.agg(F.max("seed_order")).collect()[0][0]
            order = 0 if hi is None else int(hi) + 1
        rows = []
        if isinstance(seeds, DataFrame):
            sdf = seeds
            if "priority" not in sdf.columns:
                sdf = sdf.withColumn("priority", F.lit(0.0))
            sdf = sdf.select(
                "url",
                (F.col("seed_order") + F.lit(order)).cast("int")
                .alias("seed_order"),
                F.col("priority").cast("double"),
            )
            seeds_df = sdf
        else:
            for s in seeds:
                rows.append((s, order, 0.0))
                order += 1
            seeds_df = self.spark.createDataFrame(rows, SEEDS)
        if smdf is not None:
            seeds_df = smdf.unionByName(seeds_df)

        cands = (
            canon.canonize_urls(seeds_df, "url", self.udfs["url_key"])
            .filter(F.col("url_key").isNotNull())
            .withColumn("host", canon.host_col("url"))
            .withColumn("seen_key", self._seen_key())
            .withColumn("parent_disc", F.lit(-1).cast("long"))
            .withColumn("link_index", F.col("seed_order"))
            .select(
                "url", "host", "url_key", "seen_key",
                "parent_disc", "link_index", "priority",
            )
        )
        # seed dense-order buckets on link_index (= seed_order): one cheap
        # count replaces the range-sampling pass over the canonize chain
        if isinstance(seeds, DataFrame) or smdf is not None:
            n_seed = seeds_df.count()
        else:
            n_seed = len(rows)
        res = dedup_candidates(
            cands, None, pushed=0, limit=self.cfg.limit,
            limit_reached=False, num_partitions=self.P,
            order_bucket=order_buckets(
                F.col("link_index").cast("long"), 0, n_seed - 1, self.P
            ),
        )
        # NOTE: reference seed-push failures are logged, not flag-setting
        # (crawler.go:320-329); the flag only matters for parse-time pushes
        # and with a 0-room budget the first parse push trips it anyway —
        # observably identical, asserted by tests vs the oracle.
        if res.fresh is None:
            return 0, False
        frontier = res.fresh.withColumn("round", F.lit(0))
        # the three seed sinks (frontier snapshot, seen append, bloom
        # build) all read the dense-order cache the counts job above
        # already materialized — independent jobs, submitted concurrently
        # like the round tail (each was a fixed ~1-2s of job-submission +
        # commit latency on the seed critical path: pure Amdahl S for the
        # N→4N scaling gate)
        init_jobs = [
            lambda: self.store.append("frontier", frontier, 0),
            lambda: self._append_seen(res.fresh, 0),
        ]
        if self.cfg.use_bloom:
            # the bitmap build is the only distributed part; the roll +
            # write happen driver-side below (no Spark write job)
            init_jobs.append(
                lambda: self._collect_fresh_bitmaps(res.fresh)
            )
        results = _parallel_jobs(*init_jobs)
        if self.cfg.use_bloom:
            self._roll_bloom_local(results[-1], 0)
        res.release()
        return res.pushed_end, res.limit_reached

    # -- main loop ------------------------------------------------------
    def run(
        self,
        seeds: Sequence[str] = (),
        sitemap_entries: Optional[DataFrame] = None,
        resume: bool = False,
    ) -> CrawlResult:
        if self._commit_pool is None:
            self._commit_pool = ThreadPoolExecutor(max_workers=1)
        if self._pending_commit is not None:
            # a previous run() aborted mid-pipeline: wait out its commit
            # chain BEFORE reading state / truncating (it must not race
            # this run); its failure, if any, was surfaced by that run
            try:
                self._pending_commit.result()
            except Exception:
                pass
            self._pending_commit = None
        release(self._frontier_handle)
        self._next_frontier = None
        self._frontier_handle = None
        state = self.store.read_state() if resume else None
        if state is None:
            # fresh crawl: a reused Crawler must not OR the new seed keys
            # into a previous run's bitmaps (stale bits are exactness-safe
            # — positives always go through the exact anti-join — but
            # they'd charge phantom probe work to the new crawl)
            self._bloom_dict = None
            pushed, limit_reached = self._init_frontier(seeds, sitemap_entries)
            r = 0
            n_frontier = pushed  # round-0 frontier = every successful push
            self.store.write_state(
                {"next_round": 0, "pushed": pushed,
                 "limit_reached": limit_reached, "finished": False,
                 "frontier_size": n_frontier}
            )
        else:
            r = state["next_round"]
            pushed = state["pushed"]
            limit_reached = state["limit_reached"]
            n_frontier = state.get("frontier_size")  # None on old states
            if state.get("finished"):
                return CrawlResult(self.store, r, pushed, limit_reached)
            # discard any torn round beyond the last committed state
            for t in ("documents", "order", "metrics", "lineage"):
                self.store.truncate_after(t, r - 1)
            for t in ("seen", "frontier", "bloom"):
                self.store.truncate_after(t, r)
        try:
            return self._run_rounds(r, pushed, limit_reached, n_frontier)
        except BaseException:
            # the round in flight still owns its order append: let it
            # finish, so no write to order/batch=r outlives run() (a
            # run(resume=True) started right after would race it)
            if self._order_pool is not None:
                self._order_pool.shutdown()
                self._order_pool = None
            raise

    def _run_rounds(
        self, r: int, pushed: int, limit_reached: bool,
        n_frontier: Optional[int],
    ) -> CrawlResult:
        cfg = self.cfg
        # Pipelined round commit: each round's independent sinks + state
        # write + compaction run as ONE background chain (single-thread
        # pool ⇒ commits serialize in round order) while the NEXT round's
        # schedule→fetch→parse head — which depends only on the in-memory
        # frontier handoff — runs concurrently. The chain is joined right
        # before the next round's seen/bloom reads (its first dependence
        # on round-r durable state), by which point the 3-5 s tail has
        # hidden behind the 15-70 s parse phase. Crash contract unchanged:
        # state_r commits only after every round-r sink is durable, so a
        # crash mid-pipeline resumes at the last committed round and
        # truncates any partially-written later batches.
        drained = False
        while cfg.max_rounds == 0 or r < cfg.max_rounds:
            if self._next_frontier is not None:
                # in-memory handoff from the previous round (a leaf;
                # byte-identical rows to the parquet snapshot the commit
                # chain is writing concurrently)
                frontier = self._next_frontier
                self._next_frontier = None
            else:
                self._join_commit()
                frontier = self.store.read_batch("frontier", r)
                if frontier is None:
                    drained = True
                    break
                frontier = frontier.drop("round")
            if n_frontier is None:
                # resume from a pre-tracking state file: one-time count
                n_frontier = frontier.count()
            if n_frontier == 0:
                drained = True
                break
            scheduled, carry = schedule_round(
                frontier, cfg.host_budget, cfg.priority_order,
                host_budgets=self._host_budgets,
                default_budget=self._default_budget,
            )
            scheduled = spread_for_fetch(
                scheduled.withColumn("round", F.lit(r)), self.P, salt=r
            )
            allowed, denied = apply_robots(
                scheduled, self.robots, self._robots_compiled
            )
            fetched = resolve_fetch(
                allowed,
                self.pages,
                allowed_hosts=self._hosts_df,
                crawl_host=None if cfg.multi_host else cfg.host,
                broadcast_pages=cfg.broadcast_pages,
            )
            # two-tier parse: the JVM-native tier takes every clean page
            # unless a span hook forces the exact tier for all of them
            native = cfg.process_fn is None and cfg.remove_fn is None
            fetched_handle = None
            if native:
                # the native/exact tier split scans `fetched` twice (two
                # disjoint filters); cache the round batch as a leaf so the
                # fetch join runs once. DISK_ONLY for the same reason as the
                # pages cache: HTML bodies must never be heap-resident,
                # and spark.local.dir sits on tmpfs in the bench. Cost is
                # bounded by ROUND size, never corpus size. (Measured
                # alternative, rejected: skipping this cache and
                # streaming the join per tier re-runs the probe-side
                # hash build and the routing grammar per tier — paired
                # A/B at local[8]/400k pages: 176.4 s -> 229.5 s.)
                # routing flag computed INTO the cache: the clean-page
                # grammar runs once per page here; the tier filters in
                # parse_stage read the cached boolean
                fetched_handle = leaf(
                    mark_dirty(fetched), StorageLevel.DISK_ONLY
                )
                fetched = fetched_handle
            parsed = parse_stage(
                fetched,
                process_fn=cfg.process_fn,
                remove_fn=cfg.remove_fn,
                native=native,
            )
            if self.robots is not None:
                denied_rows = denied.select(
                    "url", "host", "url_key", "round", "disc_order", "priority",
                    F.lit(0).alias("status"),
                    F.lit(False).alias("fetched_ok"),
                    F.lit(None).cast(parsed.schema["spans"].dataType).alias("spans"),
                    F.lit(None).cast(parsed.schema["links"].dataType).alias("links"),
                )
                parsed = parsed.unionByName(denied_rows)
            parsed = leaf(parsed)

            # SNK1: documents (Process runs even after the limit flag) —
            # this write is also the job that materializes the parsed
            # cache, so every later consumer (order write, fused agg,
            # candidate pipeline) is a cache read
            self.store.append(
                "documents",
                parsed.filter(F.col("fetched_ok")).select(
                    F.col("url").alias("doc_id"), "spans"
                ),
                r,
            )
            # the order append reads the parsed cache only — submit it
            # from a driver thread so it overlaps the fused agg below
            # (independent sinks; per-round serial latency is the Amdahl
            # term of the scaling gate)
            order_pool = self._order_pool = ThreadPoolExecutor(max_workers=1)
            order_fut = order_pool.submit(
                self.store.append,
                "order",
                parsed.select(
                    "url", "host", "url_key", "round", "disc_order",
                    "priority", "status", "fetched_ok",
                ),
                r,
            )

            n_kept = 0
            fresh = None
            dedup_res = None
            round_handles = []
            tail_jobs = []  # independent sink jobs, submitted concurrently
            bloom_tail_idx = None  # index of the fresh-bitmap job result
            lineage_rows = None  # driver-side lineage rows for the commit
            if not limit_reached:
                # parent-derived canon columns (_pprefix/_phost/_parent_ok)
                # are computed HERE, before the link explode, so each
                # page's regexes run once instead of once per link
                # (fanout ~19x on the bench graph); canonize_links
                # consumes and drops them
                _purl = F.col("url")
                _ppath = F.regexp_extract(
                    _purl, r"^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", 1
                )
                links = parsed.filter(F.col("fetched_ok")).select(
                    F.col("url").alias("parent_url"),
                    F.col("disc_order").alias("parent_disc"),
                    "priority",
                    F.regexp_extract(
                        _purl, r"^([a-z][a-z0-9+.\-]*://[^/?#]*)", 1
                    ).alias("_pprefix"),
                    F.regexp_extract(_purl, canon.SQL_HOST_RE, 1).alias(
                        "_phost"
                    ),
                    (
                        _purl.rlike(canon.SQL_ABS_SIMPLE)
                        & ~_ppath.contains("%")
                    ).alias("_parent_ok"),
                    F.explode("links").alias("l"),
                ).select(
                    "parent_url", "parent_disc", "priority",
                    "_pprefix", "_phost", "_parent_ok",
                    F.col("l.link_index").alias("link_index"),
                    F.col("l.href").alias("href"),
                )
                # canonicalization: JVM-native for the common absolute/
                # root-relative case, exact fused pandas UDF for the rest
                # (canon.py). The leaf sits on the ONE-PASS prepared
                # projection, BELOW the fast/slow union: the mask battery
                # and all native value expressions run exactly once per
                # link when the fused agg below materializes the cache
                # (the previous union-of-filtered-branches shape
                # re-evaluated the mask towers per branch and per output
                # column — the round-4 event logs showed it as the
                # largest stage of the crawl; the one-pass cached shape
                # measured ~4x faster at 19.35M links). The leaf is also
                # the optimizer barrier that keeps filter pushdown from
                # cloning the UDF into a Filter (~3x Python CPU, measured
                # in round 2): nothing is pushed through a LogicalRDD.
                cands_pre = leaf(
                    canon.canonize_links_prepared(links, "href"),
                    StorageLevel.MEMORY_AND_DISK,
                )
                round_handles.append(cands_pre)
                cands_fast, cands_slow = canon.canonize_links_split(
                    cands_pre, self.udfs["canonize"]
                )
                # the slow (dirty-href) side is cached POST-UDF so the
                # exact resolver runs once per dirty link, not once per
                # consumer (the fused agg materializes it; the dedup scan
                # reads both leaves) — tiny by the two-tier premise
                cands_slow = leaf(cands_slow, StorageLevel.MEMORY_AND_DISK)
                round_handles.append(cands_slow)
                cands_raw = cands_fast.unionByName(cands_slow)

                resolved_ok = (
                    F.col("url").isNotNull() & F.col("url_key").isNotNull()
                )
                if cfg.accept_fn is not None:
                    # IsAcceptedFunc seam: the user callable REPLACES F1
                    # (crawler.go:137-142), evaluated as an Arrow-batched
                    # pandas UDF over the cached candidates
                    _fn = cfg.accept_fn

                    @F.pandas_udf("boolean")
                    def _accept_udf(urls: pd.Series) -> pd.Series:
                        return urls.map(
                            lambda u: bool(_fn(u)) if u is not None else False
                        ).astype(bool)

                    flagged = cands_raw
                    accept_expr = resolved_ok & _accept_udf(F.col("url"))
                elif cfg.multi_host:
                    # membership flag via one broadcast join — shared by
                    # the accept filter AND the lineage counts (no per-
                    # round collect of the host universe, no isin literal
                    # list in the plan)
                    flagged = cands_raw.join(
                        F.broadcast(
                            self._hosts_df.withColumn("_hin", F.lit(True))
                        ),
                        "host",
                        "left",
                    )
                    accept_expr = resolved_ok & F.col("_hin").isNotNull()
                else:
                    flagged = cands_raw
                    accept_expr = resolved_ok & canon.accept_filter_with_host(
                        "url", "host", cfg.host,
                        list(cfg.reject), list(cfg.accept),
                    )

                cands = flagged.filter(accept_expr).withColumn(
                    "seen_key", self._seen_key()
                ).select(
                    "url", "host", "url_key", "seen_key",
                    "parent_disc", "link_index", "priority",
                )

                # ONE fused driver-synchronized job per round for every
                # scalar the control flow needs: scheduled/fetched counts
                # (SNK2 metrics) × Q3 error-taxonomy counts (queue.go:9-21
                # reasons; 'duplicate' covers in-round and cross-round —
                # the reference has a single ErrDuplicateURL). parsed is
                # already cached (documents write); this job materializes
                # the cands_raw cache.
                self.spark.sparkContext.setJobDescription(
                    f"fused-agg r{r}"
                )
                row = (
                    parsed.agg(
                        F.count("*").alias("n"),
                        F.sum(F.col("fetched_ok").cast("long")).alias("ok"),
                    )
                    .crossJoin(
                        flagged.agg(
                            F.count("*").alias("raw"),
                            F.count(F.when(resolved_ok, 1)).alias("resolved"),
                            F.count(F.when(accept_expr, 1)).alias("accepted"),
                            # the candidate keys' seen-buckets (≤ B
                            # values) — drives the pruned seen scan below;
                            # rides the same fused job, no extra action
                            F.collect_set(
                                F.when(
                                    accept_expr,
                                    F.pmod(
                                        F.xxhash64(self._seen_key()),
                                        F.lit(cfg.seen_buckets),
                                    ),
                                )
                            ).alias("cbuckets"),
                            # accepted parent_disc bounds: drive the
                            # sampling-free dense-order buckets (same
                            # fused job — no extra action)
                            F.min(
                                F.when(accept_expr, F.col("parent_disc"))
                            ).alias("pd_lo"),
                            F.max(
                                F.when(accept_expr, F.col("parent_disc"))
                            ).alias("pd_hi"),
                            # max attempt order key: makes the limit-
                            # boundary trailing-attempt check in
                            # dedup_candidates a pure scalar compare
                            # (no extra jobs on the limit-hit round)
                            F.max(
                                F.when(
                                    accept_expr,
                                    F.struct("parent_disc", "link_index"),
                                )
                            ).alias("att_max"),
                        )
                    )
                    .collect()[0]
                )
                self.spark.sparkContext.setJobDescription(None)
                n_sched, n_ok = row["n"], int(row["ok"] or 0)
                lin = row
                # first dependence on the previous round's durable state
                # (seen batch, bloom snapshot, any compaction): join the
                # pipelined commit chain here — it has been running
                # concurrently under the whole fetch/parse/agg head
                self._join_commit()
                seen = self.store.read("seen")
                # checkpoints written before seen bucketing have no kbucket
                if "kbucket" in seen.columns:
                    cbuckets = sorted(
                        int(b) for b in (lin["cbuckets"] or [])
                    )
                    if len(cbuckets) < cfg.seen_buckets:
                        # directory-level pruning: only the bucket
                        # partitions a candidate key can hash into are
                        # scanned (PartitionFilters on kbucket)
                        seen = seen.filter(
                            F.col("kbucket").isin(cbuckets)
                        )
                bloom_arg = None
                if cfg.use_bloom:
                    # driver-cached working copy; read_batch only on
                    # resume (the dict survives round to round in-session)
                    self._ensure_bloom(r)
                    if self._bloom_dict is not None:
                        bloom_arg = (
                            self.spark, self._bloom_dict, self._bloom_cfg()
                        )
                # per-round guard: broadcast only while the candidate key
                # set (bounded above by the accepted count, known from the
                # fused agg — no extra job) fits the byte budget; large
                # rounds take the shuffling merge path
                est = int(lin["accepted"]) * _PROBE_KEY_BYTES
                probe = (
                    "broadcast"
                    if est < cfg.broadcast_probe_max_bytes
                    else "merge"
                )
                self.probe_choices.append(probe)
                # sampling-free dense order: the accepted parents' disc
                # range is known from the fused agg, so the global FIFO
                # index uses analytic order-buckets (monotone in
                # (parent_disc, link_index)) instead of a sampled range
                # partitioning — one full pass less per round
                res = dedup_candidates(
                    cands, seen.select(F.col("url_key").alias("seen_key")),
                    pushed=pushed, limit=cfg.limit,
                    limit_reached=limit_reached, num_partitions=self.P,
                    bloom=bloom_arg,
                    n_attempts=int(lin["accepted"]) if cfg.limit > 0 else None,
                    seen_probe=probe,
                    order_bucket=order_buckets(
                        F.col("parent_disc"), lin["pd_lo"], lin["pd_hi"],
                        self.P,
                    ),
                    attempts_max=(
                        tuple(lin["att_max"])
                        if cfg.limit > 0 and lin["att_max"] is not None
                        else None
                    ),
                )
                dedup_res = res
                pushed = res.pushed_end
                limit_reached = res.limit_reached
                n_kept = res.n_kept
                fresh = res.fresh
                if fresh is not None and n_kept > 0:
                    _fresh, _r = fresh, r
                    tail_jobs.append(
                        lambda f=_fresh, b=_r + 1: self._append_seen(f, b)
                    )
                if cfg.use_bloom and fresh is not None and n_kept > 0:
                    # the only distributed bloom work: fresh-key bitmaps;
                    # the roll + batch write are driver-side in the commit
                    tail_jobs.append(
                        lambda f=fresh: self._collect_fresh_bitmaps(f)
                    )
                    bloom_tail_idx = len(tail_jobs) - 1

                n_raw, n_res, n_acc = (
                    int(lin["raw"]), int(lin["resolved"]), int(lin["accepted"])
                )
                # Q3 lineage: pure driver scalars — written driver-side in
                # the commit (was a per-round createDataFrame+write job)
                lineage_rows = [
                    ("unparseable", n_raw - n_res),
                    ("rejected", n_res - n_acc),
                    ("duplicate", n_acc - res.n_new),
                    ("budget", res.n_new - n_kept),
                    ("pushed", n_kept),
                ]
            else:
                # post-limit drain round: no candidate pipeline, only the
                # scheduled/fetched counts for metrics
                stats = parsed.agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("fetched_ok").cast("long")).alias("ok"),
                ).collect()[0]
                n_sched, n_ok = stats["n"], int(stats["ok"] or 0)

            # next frontier = carryover ∪ fresh (FIFO: carry first by disc)
            parts = []
            if carry is not None:
                parts.append(carry.select(
                    "url", "host", "url_key", "seen_key", "disc_order", "priority"
                ))
            if fresh is not None and n_kept > 0:
                parts.append(fresh)
            n_carry = n_frontier - n_sched
            nxt_core = None
            if parts:
                nxt_core = parts[0]
                for p in parts[1:]:
                    nxt_core = nxt_core.unionByName(p)
                # a leaf, like every round cache: the in-memory frontier
                # handoff to round r+1 must TRUNCATE lineage the way the
                # parquet round-trip used to — a plain persist leaves the
                # logical plan referencing the whole previous round's
                # tree, which compounds exponentially across rounds
                # (measured: a 2 GB plan string by round ~10). This is
                # NOT off the critical path: under AQE the call itself
                # runs the upstream shuffle stages (the dense-order
                # window) on this thread; only the final stage, which
                # stores the blocks, runs inside the background snapshot
                # write.
                # The DURABLE checkpoint is still the parquet snapshot
                # below; the leaf only serves the in-session pipeline.
                nxt_core = leaf(nxt_core)
                tail_jobs.append(
                    lambda df=nxt_core, b=r + 1: self.store.append(
                        "frontier", df.withColumn("round", F.lit(b)), b
                    )
                )
            has_next = (n_carry + n_kept) > 0
            n_frontier = n_carry + n_kept  # next round's size, tracked

            # ---- pipelined commit: the round's independent sinks (seen/
            # bloom/lineage/metrics/frontier snapshot) all read cached
            # inputs. Submit them + the state write + compaction +
            # releases as ONE background chain on the single-thread
            # commit pool (chains serialize in round order) and let round
            # r+1's fetch/parse head run concurrently off the in-memory
            # frontier. Same crash contract: state_r is written only
            # after every round-r sink (including the order append) has
            # finished.
            _handles = [parsed] + (
                [fetched_handle] if fetched_handle is not None else []
            ) + round_handles
            _dedup_res = dedup_res
            _prev_frontier = self._frontier_handle
            _state = {
                "next_round": r + 1, "pushed": pushed,
                "limit_reached": limit_reached, "finished": not has_next,
                "frontier_size": n_frontier,
            }

            def _commit(
                jobs=tuple(tail_jobs), ofut=order_fut, opool=order_pool,
                b_idx=bloom_tail_idx, lrows=lineage_rows, rr=r,
                msched=n_sched, mok=n_ok, mkept=n_kept, st=_state,
                handles=tuple(_handles), dres=_dedup_res,
                prev_frontier=_prev_frontier,
            ):
                try:
                    results = _parallel_jobs(*jobs) if jobs else []
                finally:
                    # the order append finishes even when a sink failed
                    opool.shutdown()
                ofut.result()
                # driver-side sinks (no Spark jobs)
                self._append_metrics_local(rr, msched, mok, mkept)
                if lrows is not None:
                    self._append_lineage_local(rr, lrows)
                # post-limit rounds never probe: without fresh keys there
                # is nothing to roll into a snapshot no one reads
                if cfg.use_bloom and (
                    b_idx is not None or not st["limit_reached"]
                ):
                    self._roll_bloom_local(
                        results[b_idx] if b_idx is not None else None,
                        rr + 1,
                    )
                self.store.write_state(st)
                # post-commit maintenance: bound the seen scan's file
                # count. Runs AFTER the state write, so the compacted
                # label (= the committed next_round) always survives the
                # resume truncate; crash mid-compaction is completed by
                # the store's journal recovery, and rows keep first_round
                # so resume to ANY round stays exact (truncate_after
                # filters compacted dirs on it). Round r+1 cannot observe
                # a half-compacted table: its seen read happens after
                # _join_commit.
                self.store.maybe_compact(
                    "seen", upto=rr + 1, partition_by=["kbucket"],
                    round_col="first_round", fanin=cfg.seen_compact_fanin,
                )
                # release round-r leaves (the next frontier is its own
                # leaf, already materialized by the snapshot write above)
                for h in handles:
                    release(h)
                if dres is not None:
                    dres.release()
                release(prev_frontier)

            # the previous commit must succeed before this one queues:
            # a drain round skips the seen-read join above, and an
            # unjoined failure would be lost while later commits write
            # state past the torn round (a no-op in any other round)
            self._join_commit()
            self._pending_commit = self._commit_pool.submit(_commit)
            self._order_pool = None  # the commit chain owns it now
            self._frontier_handle = nxt_core
            self._next_frontier = nxt_core
            r += 1
            if not has_next:
                drained = True
                break

        # join the last round's commit chain before touching final state
        # (also surfaces any background sink failure). The pool itself is
        # per-Crawler and idles between runs; if this run() raises before
        # reaching here, the next run() (or interpreter exit) waits out
        # the orphaned chain — see the entry guard above.
        self._join_commit()
        release(self._frontier_handle)
        self._frontier_handle = None
        self._next_frontier = None
        # only a drained frontier finishes the crawl; a max_rounds stop
        # leaves state resumable (north rule: resumable from any round)
        if drained:
            self.store.write_state(
                {"next_round": r, "pushed": pushed,
                 "limit_reached": limit_reached, "finished": True}
            )
        return CrawlResult(self.store, r, pushed, limit_reached)
