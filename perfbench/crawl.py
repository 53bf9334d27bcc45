"""The ``crawl`` workload: a politeness-bound crawl of a link-dense web,
stopped after its first round and finished by a fresh resumed crawler.

One operation is one whole crawl: ``Crawler(...).run`` until the stop
round, then ``Crawler(..., resume=True).run`` to the round cap. Its
output (crawl order and seen set) must equal ``crawlspark.oracle.crawl``
run uninterrupted on the same inputs and budgets.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

from . import inputs

STOP_ROUND = 1  # the first crawler stops after round 0 ...
ROUNDS = 2  # ... and the resumed one runs round 1
#: Seen-probe byte budget for ``seen_probe="auto"``, scaled to this input
#: size so the small seed round takes the broadcast probe and the large
#: second round the merge anti-join (the engine default, 64 MiB, sits
#: between the two only at about 200x this web).
PROBE_MAX_BYTES = 2 << 20
work_unit = "URLs"  # what work_done counts
attempts_per_op = 1


def headline(outs) -> tuple:
    """The headline figure for the table: ``urls_per_s`` (the same number
    as ``work_per_s``)."""
    return ("urls_per_s", statistics.median(o.urls / o.wall_s for o in outs)
            if outs else 0.0, "1/s")


def build(seed: int, data_dir: str, parts: int) -> None:
    inputs.write_crawl(seed, data_dir, parts)


def expected(seed: int, data_dir: str, cache_dir: str) -> dict:
    """The uninterrupted oracle crawl of this seed's web (crawl order and
    seen set), cached by seed, workload settings and oracle sources."""
    import crawlspark

    def compute():
        from crawlspark.oracle import crawl as oracle_crawl
        from crawlspark.synth import pages_index, powerlaw

        pages, seeds = powerlaw(seed=seed, **inputs.GRAPH)
        res = oracle_crawl(
            pages_index(pages), seeds, "",
            multi_host=True, hosts={p["host"] for p in pages},
            host_budgets=inputs.host_budgets(),
            default_budget=inputs.default_budget(),
            max_rounds=ROUNDS,
        )
        return {
            "order": sorted(
                [r.url, r.round, r.disc_order, r.fetched_ok] for r in res.order
            ),
            "seen": sorted(res.seen),
        }

    pkg = os.path.dirname(crawlspark.__file__)
    return inputs.cached_json(
        cache_dir, "crawl",
        [seed, inputs.GRAPH, inputs.host_budgets(), inputs.default_budget(),
         ROUNDS],
        [os.path.join(pkg, f"{m}.py")
         for m in ("oracle", "synth", "purl", "htmlparse", "textnorm")],
        compute,
    )


@dataclass
class CrawlOutput:
    t0: float  # epoch seconds at Crawler(...)
    t1: float  # epoch seconds at CrawlResult
    wall_s: float
    urls: int  # URLs scheduled + new URLs pushed (BASELINE.json headline)
    rounds: int
    order: list
    seen: list
    crawlers: tuple
    ckpt: str


class Workload:
    def __init__(self, spark, data_dir: str, work_dir: str, cores: int):
        from crawlspark.schemas import ROBOTS_RULE

        self.spark = spark
        self.work = work_dir
        self.cores = cores
        self.pages = spark.read.parquet(f"{data_dir}/pages")
        self.seeds = spark.read.parquet(f"{data_dir}/seeds")
        self.hosts = inputs.crawl_hosts(data_dir)
        self.robots = spark.createDataFrame(
            inputs.robots_rules(self.hosts), ROBOTS_RULE
        )
        self._n = 0

    def config(self, ckpt: str, max_rounds: int):
        from crawlspark.engine import CrawlConfig

        return CrawlConfig(
            checkpoint_dir=ckpt,
            multi_host=True,
            hosts=self.hosts,
            max_rounds=max_rounds,
            num_partitions=self.cores,
            broadcast_pages=False,
            use_bloom=True,
            round_wall_secs=inputs.ROUND_WALL_SECS,
            default_delay_secs=inputs.DEFAULT_DELAY_SECS,
            broadcast_probe_max_bytes=PROBE_MAX_BYTES,
        )

    def op(self, tracer=None) -> CrawlOutput:
        from pyspark.sql import functions as F

        from crawlspark.engine import Crawler

        self._n += 1
        ckpt = os.path.join(self.work, f"ckpt{self._n}")
        epoch0 = time.time()
        t0 = time.perf_counter()
        first = Crawler(
            self.spark, self.pages, self.config(ckpt, STOP_ROUND),
            robots_rules=self.robots,
        )
        first.run(self.seeds)
        if tracer is not None:
            tracer.mark("resume")
        second = Crawler(
            self.spark, self.pages, self.config(ckpt, ROUNDS),
            robots_rules=self.robots,
        )
        result = second.run(self.seeds, resume=True)
        wall = time.perf_counter() - t0
        m = result.metrics_df().agg(
            F.sum("scheduled").alias("s"), F.sum("new_urls").alias("n")
        ).collect()[0]
        order = sorted(
            [r["url"], r["round"], r["disc_order"], r["fetched_ok"]]
            for r in result.order_df().collect()
        )
        seen = sorted(r["url_key"] for r in result.seen_df().collect())
        return CrawlOutput(
            epoch0, epoch0 + wall, wall, int(m["s"]) + int(m["n"]),
            result.rounds, order, seen, (first, second), ckpt,
        )

    def release(self, out: CrawlOutput) -> None:
        shutil.rmtree(out.ckpt, ignore_errors=True)

    @staticmethod
    def work_done(out: CrawlOutput) -> float:
        return out.urls

    @staticmethod
    def failures(out: CrawlOutput, want: dict) -> list[str]:
        """``["crawl"]`` when order or seen set differ from the oracle."""
        ok = out.order == want["order"] and out.seen == want["seen"]
        return [] if ok else ["crawl"]
