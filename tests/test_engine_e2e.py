"""End-to-end: the Spark engine must reproduce the oracle's crawl order,
seen set, span documents and per-round counts exactly (north rule)."""

import pytest
from pyspark.sql import functions as F

from crawlspark.engine import CrawlConfig, Crawler
from crawlspark.oracle import crawl as oracle_crawl
from crawlspark.schemas import PAGES
from crawlspark.synth import basic16, chain, pages_index, powerlaw, richsite


def run_spark_crawl(spark, tmp_path, pages, seeds, **cfg_kwargs):
    pages_df = spark.createDataFrame(pages, PAGES)
    cfg = CrawlConfig(checkpoint_dir=str(tmp_path / "ckpt"), **cfg_kwargs)
    crawler = Crawler(spark, pages_df, cfg)
    return crawler.run(seeds)


def collect_order(result):
    rows = result.order_df().orderBy("disc_order").collect()
    return [(r["url"], r["round"], r["disc_order"], r["fetched_ok"]) for r in rows]


def assert_matches_oracle(result, oracle):
    got = collect_order(result)
    # compare in discovery order: with per-host budgets, processing order
    # within the crawl interleaves carryover (small disc) with fresh rows
    # across rounds; disc_order is the canonical total order and each
    # record carries its processing round, so this is a full-fidelity check
    want = sorted(
        ((r.url, r.round, r.disc_order, r.fetched_ok) for r in oracle.order),
        key=lambda t: t[2],
    )
    assert got == want
    got_seen = {r["url_key"] for r in result.seen_df().collect()}
    assert got_seen == oracle.seen
    # span documents: per-doc sequence equality (kind, text, media_ref, order)
    got_docs = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in result.documents_df().collect()
    }
    want_docs = {
        doc_id: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        for doc_id, spans in oracle.documents
    }
    assert got_docs == want_docs
    # per-round counts
    got_counts = {
        r["round"]: (r["scheduled"], r["fetched_ok"], r["failed"], r["new_urls"])
        for r in result.metrics_df().collect()
    }
    want_counts = {
        c["round"]: (c["scheduled"], c["fetched_ok"], c["failed"], c["new_urls"])
        for c in oracle.counts
    }
    assert got_counts == want_counts


def test_basic16(spark, tmp_path):
    pages, seeds = basic16()
    result = run_spark_crawl(spark, tmp_path, pages, seeds, host="example.com")
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com")
    assert result.pushed == 16
    assert_matches_oracle(result, oracle)


def test_basic16_limit(spark, tmp_path):
    pages, seeds = basic16()
    result = run_spark_crawl(
        spark, tmp_path, pages, seeds, host="example.com", limit=5
    )
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com", limit=5)
    assert result.pushed == 6  # limit+1 semantics
    assert result.limit_reached
    assert_matches_oracle(result, oracle)


def test_richsite_failures_and_variants(spark, tmp_path):
    pages, seeds = richsite()
    result = run_spark_crawl(spark, tmp_path, pages, seeds, host="rich.example")
    oracle = oracle_crawl(pages_index(pages), seeds, "rich.example")
    assert_matches_oracle(result, oracle)
    # sanity: failures exist and documents carry media spans
    assert any(not r.fetched_ok for r in oracle.order)
    assert any(
        any(s["kind"] == "media" for s in spans) for _, spans in oracle.documents
    )


def test_host_budget(spark, tmp_path):
    pages, seeds = basic16()
    result = run_spark_crawl(
        spark, tmp_path, pages, seeds, host="example.com", host_budget=3
    )
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com", host_budget=3)
    assert_matches_oracle(result, oracle)


def test_accept_reject_filters(spark, tmp_path):
    pages, seeds = basic16()
    kw = dict(host="example.com", reject=[r"sub2-[4-9]\.html"])
    result = run_spark_crawl(spark, tmp_path, pages, seeds, **kw)
    oracle = oracle_crawl(
        pages_index(pages), seeds, "example.com", reject=kw["reject"]
    )
    assert result.pushed == 10
    assert_matches_oracle(result, oracle)


def test_multi_host_powerlaw_budget(spark, tmp_path):
    pages, seeds = powerlaw(n_pages=200, n_hosts=5, seed=11)
    hosts = sorted({p["host"] for p in pages})
    result = run_spark_crawl(
        spark, tmp_path, pages, seeds,
        multi_host=True, hosts=hosts, host_budget=10, max_rounds=6,
    )
    oracle = oracle_crawl(
        pages_index(pages), seeds, "", multi_host=True, hosts=set(hosts),
        host_budget=10, max_rounds=6,
    )
    assert_matches_oracle(result, oracle)


def test_chain_rounds(spark, tmp_path):
    pages, seeds = chain(6)
    result = run_spark_crawl(spark, tmp_path, pages, seeds, host="chain.example")
    oracle = oracle_crawl(pages_index(pages), seeds, "chain.example")
    assert result.rounds == 6
    assert_matches_oracle(result, oracle)


def test_seen_probe_auto_guard(spark, tmp_path):
    """The probe guard (VERDICT r2 / ADVICE r2): per round, the
    broadcast seen-probe is chosen only while the candidate set fits the
    byte budget; beyond it the round falls back to the shuffling merge
    anti-join. Output must be identical under every budget."""
    pages, seeds = basic16()
    pages_df = spark.createDataFrame(pages, PAGES)
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com")

    def run(**kw):
        ckpt = tmp_path / ("ckpt_" + "_".join(f"{k}{v}" for k, v in kw.items()))
        cfg = CrawlConfig(checkpoint_dir=str(ckpt), host="example.com", **kw)
        c = Crawler(spark, pages_df, cfg)
        return c, c.run(seeds)

    # default budget: every round is comfortably under 64 MiB -> broadcast
    c_auto, res_auto = run()
    assert c_auto.probe_choices and set(c_auto.probe_choices) == {"broadcast"}
    assert_matches_oracle(res_auto, oracle)

    # a 0-byte budget: every round must fall back to merge
    c_merge, res_merge = run(broadcast_probe_max_bytes=0)
    assert c_merge.probe_choices and set(c_merge.probe_choices) == {"merge"}
    assert_matches_oracle(res_merge, oracle)

    # a budget no round can reach: every round broadcasts
    c_b, res_b = run(broadcast_probe_max_bytes=1 << 62)
    assert set(c_b.probe_choices) == {"broadcast"}
    assert_matches_oracle(res_b, oracle)
