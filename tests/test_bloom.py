"""Bloom prefilter: no false negatives ever (exactness), useful selectivity
on non-members, and end-to-end crawl equality with the bloom path on."""

import pytest
from pyspark.sql import functions as F

from crawlspark import bloom
from crawlspark.engine import CrawlConfig, Crawler
from crawlspark.oracle import crawl as oracle_crawl
from crawlspark.schemas import PAGES
from crawlspark.synth import pages_index, richsite


def test_bloom_no_false_negatives_and_selectivity(spark):
    cfg = bloom.BloomConfig(buckets=8, bits_per_bucket=1 << 16)
    members = spark.range(2000).select(
        F.concat(F.lit("/page/"), F.col("id").cast("string")).alias("k")
    )
    bdf = bloom.build_or_update(members, "k", None, cfg)
    bdict = bloom.to_dict(bdf)
    assert set(bdict) <= set(range(8))

    probe_members = members
    maybe, definite_new = bloom.split_candidates(
        spark, probe_members, "k", bdict, cfg
    )
    assert definite_new.count() == 0  # every member tests positive

    others = spark.range(2000).select(
        F.concat(F.lit("/other/"), F.col("id").cast("string")).alias("k")
    )
    maybe_o, new_o = bloom.split_candidates(spark, others, "k", bdict, cfg)
    # false-positive rate must be low at this sizing (~2k keys in 512Kbit)
    assert new_o.count() > 1900


def test_bloom_incremental_update(spark):
    cfg = bloom.BloomConfig(buckets=4, bits_per_bucket=1 << 14)
    a = spark.range(100).select(F.concat(F.lit("a"), "id").alias("k"))
    b = spark.range(100).select(F.concat(F.lit("b"), "id").alias("k"))
    b0 = bloom.build_or_update(a, "k", None, cfg)
    b1 = bloom.build_or_update(b, "k", b0, cfg)
    d = bloom.to_dict(b1)
    maybe_a, new_a = bloom.split_candidates(spark, a, "k", d, cfg)
    maybe_b, new_b = bloom.split_candidates(spark, b, "k", d, cfg)
    assert new_a.count() == 0 and new_b.count() == 0


def test_crawl_with_bloom_matches_oracle(spark, tmp_path):
    pages, seeds = richsite()
    pages_df = spark.createDataFrame(pages, PAGES)
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path / "ck"), host="rich.example",
        use_bloom=True, bloom_buckets=4, bloom_bits=1 << 16,
    )
    res = Crawler(spark, pages_df, cfg).run(seeds)
    oracle = oracle_crawl(pages_index(pages), seeds, "rich.example")
    got = sorted(
        (r["url"], r["round"], r["disc_order"]) for r in res.order_df().collect()
    )
    want = sorted((r.url, r.round, r.disc_order) for r in oracle.order)
    assert got == want
    assert {r["url_key"] for r in res.seen_df().collect()} == oracle.seen


def test_crawl_with_bloom_limit_no_drain_rolls(spark, tmp_path):
    """basic16 with limit=3 and one fetch per round trips the limit in
    round 0 and drains the carried frontier in rounds 1-3. Drain rounds
    never probe, so no bloom snapshot is written past the one round 0
    rolled (batch 1), and the crawl still matches the oracle."""
    import os

    from crawlspark.synth import basic16

    pages, seeds = basic16()
    kw = dict(host="example.com", limit=3, host_budget=1)
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path / "ck"), use_bloom=True,
        bloom_buckets=4, bloom_bits=1 << 16, **kw,
    )
    res = Crawler(spark, spark.createDataFrame(pages, PAGES), cfg).run(seeds)
    oracle = oracle_crawl(pages_index(pages), seeds, **kw)
    assert res.limit_reached and res.rounds == 4
    batches = sorted(
        int(d.split("=")[1]) for d in os.listdir(tmp_path / "ck" / "bloom")
        if d.startswith("batch=")
    )
    assert batches == [0, 1]
    got = sorted(
        (r["url"], r["round"], r["disc_order"]) for r in res.order_df().collect()
    )
    assert got == sorted((r.url, r.round, r.disc_order) for r in oracle.order)
    assert {r["url_key"] for r in res.seen_df().collect()} == oracle.seen
