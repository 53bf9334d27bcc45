"""Physical-plan shape assertions for the round-2 scale fixes: the seen
side must never shuffle or sort under the broadcast probe, and the
scheduler's carryover must not re-shuffle the frontier through a join.
Every per-round cache is a plan leaf that the crawl frees again."""

from pyspark.sql import functions as F

from crawlspark.frontier import _anti_seen
from crawlspark.schedule import schedule_round


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _mk_seen(spark, n=1000):
    return spark.range(n).select(
        F.concat(F.lit("/k"), F.col("id")).alias("seen_key")
    )


def _mk_cands(spark, n=50, offset=990):
    return spark.range(n).select(
        F.concat(F.lit("/k"), (F.col("id") + offset)).alias("seen_key"),
        F.col("id").alias("parent_disc"),
        F.col("id").cast("int").alias("link_index"),
    )


def test_broadcast_probe_never_shuffles_seen(spark):
    seen = _mk_seen(spark)
    cands = _mk_cands(spark).persist()
    try:
        out = _anti_seen(cands, seen, "broadcast")
        plan = _plan(out)
        # the seen side is STREAMED through broadcast hash joins: the plan
        # must contain no shuffle exchange and no sort at all
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "Sort " not in plan and "SortMergeJoin" not in plan
        # exactness: identical set algebra to the plain anti-join
        got = sorted(r["seen_key"] for r in out.collect())
        want = sorted(
            r["seen_key"]
            for r in _anti_seen(cands, seen, "merge").collect()
        )
        assert got == want and len(got) == 40  # 990..999 are duplicates
    finally:
        cands.unpersist()


def test_schedule_flag_split_has_no_join(spark):
    frontier = spark.range(200).select(
        F.concat(F.lit("h"), (F.col("id") % 5)).alias("host"),
        F.concat(F.lit("/p"), F.col("id")).alias("url_key"),
        F.concat(F.lit("/p"), F.col("id")).alias("seen_key"),
        F.concat(F.lit("http://h/p"), F.col("id")).alias("url"),
        F.col("id").alias("disc_order"),
        F.lit(0.0).alias("priority"),
    )
    scheduled, carry = schedule_round(frontier, host_budget=7)
    # carryover is a flag split of the ranking windows — no join re-shuffle
    for df in (scheduled, carry):
        plan = _plan(df)
        assert "Join" not in plan
    # partition: scheduled ∪ carry == frontier, disjoint, budget respected
    s = {r["seen_key"] for r in scheduled.collect()}
    c = {r["seen_key"] for r in carry.collect()}
    assert not (s & c)
    assert len(s) + len(c) == 200
    assert len(s) == 5 * 7
    per_host = (
        scheduled.groupBy("host").count().collect()
    )
    assert all(r["count"] <= 7 for r in per_host)


def test_per_host_budget_column(spark):
    frontier = spark.range(100).select(
        F.concat(F.lit("h"), (F.col("id") % 2)).alias("host"),
        F.concat(F.lit("/p"), F.col("id")).alias("url_key"),
        F.concat(F.lit("/p"), F.col("id")).alias("seen_key"),
        F.concat(F.lit("http://h/p"), F.col("id")).alias("url"),
        F.col("id").alias("disc_order"),
        F.lit(0.0).alias("priority"),
    )
    budgets = spark.createDataFrame([("h0", 3)], "host string, budget long")
    scheduled, carry = schedule_round(
        frontier, host_budget=0, host_budgets=budgets, default_budget=10
    )
    counts = {
        r["host"]: r["count"]
        for r in scheduled.groupBy("host").count().collect()
    }
    assert counts == {"h0": 3, "h1": 10}
    # FIFO: the scheduled rows are the lowest disc_orders per host
    h0 = sorted(
        r["disc_order"]
        for r in scheduled.filter("host = 'h0'").collect()
    )
    assert h0 == [0, 2, 4]


def test_dense_order_broadcast_offsets_beyond_literal_max(spark):
    """with_dense_order at cluster-scale partition counts must not embed
    a per-partition create_map literal in the plan (VERDICT r2 §wrong
    #3): beyond _OFFSETS_LITERAL_MAX the offsets ship as a broadcast
    join. Both paths must produce the identical dense index."""
    import crawlspark.frontier as fr

    df = spark.range(5000).select(
        (F.col("id") * 7919 % 5000).alias("parent_disc"),
        F.col("id").cast("int").alias("link_index"),
    )
    order = [F.col("parent_disc"), F.col("link_index")]

    out_small, end_small = fr.with_dense_order(
        df, order, "_idx", start=3, num_partitions=8
    )
    got_small = [
        (r["parent_disc"], r["_idx"])
        for r in out_small.orderBy("_idx").collect()
    ]

    # force the broadcast-offsets path: more partitions than the literal cap
    old = fr._OFFSETS_LITERAL_MAX
    fr._OFFSETS_LITERAL_MAX = 4
    try:
        out_b, end_b = fr.with_dense_order(
            df, order, "_idx", start=3, num_partitions=8
        )
        plan = out_b._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "map_from" not in plan and "keys:" not in plan
        got_b = [
            (r["parent_disc"], r["_idx"])
            for r in out_b.orderBy("_idx").collect()
        ]
    finally:
        fr._OFFSETS_LITERAL_MAX = old

    assert end_b == end_small == 3 + 5000
    assert got_b == got_small
    # dense, 0-gap, starts at `start`
    assert [i for _, i in got_b] == list(range(3, 3 + 5000))


def test_dense_order_bucket_col_no_sampling_identical_index(spark):
    """The sampling-free dense order (bucket_col = analytic monotone
    buckets over the order key) must (1) produce the identical dense
    index as the sampled repartitionByRange path, (2) put NO
    repartitionByRange/RangePartitioning in the plan, and (3) stay exact
    under bucket skew and out-of-range clamping."""
    import crawlspark.frontier as fr

    df = spark.range(5000).select(
        (F.col("id") * 7919 % 97).alias("parent_disc"),  # heavy skew: 97 keys
        F.col("id").cast("int").alias("link_index"),
    )
    order = [F.col("parent_disc"), F.col("link_index")]

    out_ref, end_ref = fr.with_dense_order(
        df, order, "_idx", start=3, num_partitions=8
    )
    got_ref = [
        (r["parent_disc"], r["link_index"], r["_idx"])
        for r in out_ref.orderBy("_idx").collect()
    ]

    # analytic buckets over a DELIBERATELY wrong span (clamps exercise
    # greatest/least) — monotone is the only requirement for exactness
    bucket = F.greatest(
        F.lit(0),
        F.least(F.lit(7), F.floor(F.col("parent_disc") * 8 / F.lit(50))),
    )
    out_b, end_b = fr.with_dense_order(
        df, order, "_idx", start=3, num_partitions=8, bucket_col=bucket
    )
    plan = out_b._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    got_b = [
        (r["parent_disc"], r["link_index"], r["_idx"])
        for r in out_b.orderBy("_idx").collect()
    ]
    assert end_b == end_ref == 3 + 5000
    assert got_b == got_ref


def _stored_rdds(spark) -> set:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _wait_released(spark, ids: set, timeout: float = 30.0) -> set:
    """Block removal is asynchronous: poll until none of ``ids`` is
    stored any more (or the timeout passes); returns those still held."""
    import time

    deadline = time.monotonic() + timeout
    while ids & _stored_rdds(spark) and time.monotonic() < deadline:
        time.sleep(0.1)
    return ids & _stored_rdds(spark)


def test_leaf_truncates_plan_and_release_frees_blocks(spark):
    """A leaf plans as one LogicalRDD (no upstream tree, no
    InMemoryRelation), stores its blocks on the first action, and
    ``release`` frees them — ``DataFrame.unpersist`` would not."""
    from crawlspark.frontier import leaf, release

    before = _stored_rdds(spark)
    df = leaf(_mk_cands(spark, n=200).filter(F.col("parent_disc") % 2 == 0))
    qe = df.select("seen_key")._jdf.queryExecution()
    assert "LogicalRDD" in qe.analyzed().treeString()
    assert "Filter" not in qe.analyzed().treeString()
    assert "InMemoryRelation" not in qe.withCachedData().treeString()
    assert df.count() == 100
    held = _stored_rdds(spark) - before
    assert held
    release(df)
    assert _wait_released(spark, held) == set()


def test_crawl_sink_plans_are_leaf_sized(spark, tmp_path, monkeypatch):
    """Every DataFrame a 2-round crawl hands to CheckpointStore.append
    plans against the round's leaves, not the whole round tree: its
    cache-substituted plan holds no InMemoryRelation (a nested persist
    carries its entire cached plan inside it) and its analysed plan text
    stays under a fixed bound. Plan shape, not data size, decides both,
    so the bound holds for any input."""
    from crawlspark.engine import CrawlConfig, Crawler
    from crawlspark.schemas import PAGES
    from crawlspark.storage import CheckpointStore
    from crawlspark.synth import basic16

    plans = []
    append = CheckpointStore.append

    def recording_append(self, table, df, batch, *a, **k):
        qe = df._jdf.queryExecution()
        plans.append((
            table, batch, qe.analyzed().treeString(),
            qe.withCachedData().treeString(),
        ))
        return append(self, table, df, batch, *a, **k)

    monkeypatch.setattr(CheckpointStore, "append", recording_append)
    pages, seeds = basic16()
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path / "ckpt"), host="example.com",
        max_rounds=2,
    )
    res = Crawler(spark, spark.createDataFrame(pages, PAGES), cfg).run(seeds)
    assert res.rounds == 2
    tables = {t for t, *_ in plans}
    assert {"documents", "order", "seen", "frontier"} <= tables
    for table, batch, analysed, cached in plans:
        assert "InMemoryRelation" not in cached, (table, batch)
        assert len(analysed) < 64 * 1024, (table, batch, len(analysed))


def test_run_frees_every_round_leaf(spark, tmp_path):
    """After run() returns, the crawl holds no round data in storage: the
    only stored RDDs it added are the Crawler's pages and hosts caches.
    max_rounds stops the crawl with a next frontier still handed off, so
    the last frontier leaf must be freed as well."""
    from crawlspark.engine import CrawlConfig, Crawler
    from crawlspark.schemas import PAGES
    from crawlspark.synth import basic16

    before = _stored_rdds(spark)
    pages, seeds = basic16()
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path / "ckpt"), multi_host=True,
        broadcast_pages=False, max_rounds=2,
    )
    crawler = Crawler(spark, spark.createDataFrame(pages, PAGES), cfg)
    res = crawler.run(seeds)
    assert res.rounds == 2
    assert not crawler.store.read_state()["finished"]
    crawler.pages.unpersist(True)
    crawler._hosts_df.unpersist(True)
    assert _wait_released(spark, _stored_rdds(spark) - before) == set()
