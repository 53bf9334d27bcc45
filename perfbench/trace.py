"""Per-layer measurements for the traced run.

Spans are recorded only here, around calls into the program's public
functions; nothing inside ``crawlspark`` is changed. Two kinds:

* eager calls, wrapped while the traced crawl runs: the checkpoint
  store's writes and reads, ``dedup_candidates`` (the name
  ``crawlspark.engine`` imported) and the bloom bitmap build;
* lazy layers, whose public functions only build Spark plans
  (schedule, robots, fetch, parse, canon): replayed after the crawl over
  each round's checkpointed frontier, every layer's result persisted and
  materialized with a ``noop`` write, so each layer is timed on cached
  input from the layer before it.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

import crawlspark.bloom as bloom_mod
import crawlspark.engine as engine_mod
from crawlspark import canon
from crawlspark.fetch import resolve_fetch
from crawlspark.parse import mark_dirty, parse_stage
from crawlspark.robots import apply_robots, compile_robots, robots_budgets
from crawlspark.schedule import schedule_round, spread_for_fetch
from crawlspark.storage import CheckpointStore

from . import inputs

TABLES = ("documents", "order", "seen", "frontier", "metrics", "lineage",
          "bloom")
APPEND_TABLES = ("documents", "order", "seen", "frontier")


class Spans:
    """Wraps the eager program calls for the duration of a ``with``
    block and records one ``(label, start, end)`` span per call."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self.marks: dict[str, float] = {}
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self._bloom_builds: set[int] = set()

    def mark(self, name: str) -> None:
        self.marks[name] = time.perf_counter()

    def _record(self, label: str, t0: float) -> None:
        with self._lock:
            self.spans.append((label, t0, time.perf_counter()))

    def _patch(self, owner, attr: str, label) -> None:
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self._record(label(*args, **kwargs), t0)

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def __enter__(self) -> "Spans":
        S = CheckpointStore
        self._patch(S, "append", lambda _s, table, *a, **k: f"append.{table}")
        self._patch(S, "append_local", lambda *a, **k: "append_local")
        self._patch(S, "write_state", lambda *a, **k: "write_state")
        self._patch(S, "read_state", lambda *a, **k: "read_state")
        self._patch(S, "truncate_after", lambda *a, **k: "truncate_after")
        self._patch(
            S, "read_batch", lambda _s, table, *a, **k: f"read.{table}"
        )
        self._patch(engine_mod, "dedup_candidates", lambda *a, **k: "dedup")
        # the engine's bitmap build is build_or_update (a lazy plan)
        # collected by to_dict: time to_dict on build_or_update's results
        build = bloom_mod.build_or_update

        def tracked_build(*args, **kwargs):
            df = build(*args, **kwargs)
            self._bloom_builds.add(id(df))
            return df

        self._saved.append((bloom_mod, "build_or_update", build))
        bloom_mod.build_or_update = tracked_build
        self._patch(
            bloom_mod, "to_dict",
            lambda df: "bloom_build" if id(df) in self._bloom_builds
            else "bloom_read",
        )
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # -- span arithmetic -------------------------------------------------
    def total(self, label: str, after: float = float("-inf")) -> float:
        return sum(
            e - s for n, s, e in self.spans if n == label and s >= after
        )

    def durations(self, label: str) -> list[float]:
        return [e - s for n, s, e in self.spans if n == label]

    def ends(self, label: str) -> list[float]:
        return sorted(e for n, s, e in self.spans if n == label)


def _materialize(df):
    """Persist ``df`` and run it to a noop sink; returns (cached, secs)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return df, time.perf_counter() - t0


def _links(parsed):
    """The engine's link explode (parent-derived canon columns computed
    once per page), as ``Crawler.run`` builds it before canonization.

    A copy of the ``links = parsed.filter(F.col("fetched_ok")).select(...)``
    expression in ``Crawler.run`` (``crawlspark/engine.py``, after the
    "parent-derived canon columns" comment); keep the two in step."""
    url = F.col("url")
    path = F.regexp_extract(url, r"^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    return parsed.filter(F.col("fetched_ok")).select(
        F.col("url").alias("parent_url"),
        F.col("disc_order").alias("parent_disc"),
        "priority",
        F.regexp_extract(url, r"^([a-z][a-z0-9+.\-]*://[^/?#]*)", 1)
        .alias("_pprefix"),
        F.regexp_extract(url, canon.SQL_HOST_RE, 1).alias("_phost"),
        (url.rlike(canon.SQL_ABS_SIMPLE) & ~path.contains("%"))
        .alias("_parent_ok"),
        F.explode("links").alias("l"),
    ).select(
        "parent_url", "parent_disc", "priority", "_pprefix", "_phost",
        "_parent_ok", F.col("l.link_index").alias("link_index"),
        F.col("l.href").alias("href"),
    )


def replay(spark, wl, out) -> dict:
    """Time the lazy layers round by round over the traced crawl's
    checkpoint, and count what they route: carried frontier rows, pages
    sent to the exact parse tier, links sent to the pandas resolver, and
    bloom maybe-seen flags with their false positives."""
    from pyspark.sql import Window

    cfg = out.crawlers[1].cfg
    store = CheckpointStore(spark, out.ckpt)
    P = wl.cores
    rules = wl.robots
    compiled = compile_robots(rules)
    budgets = robots_budgets(
        rules, cfg.round_wall_secs, cfg.default_delay_secs
    )
    hosts = spark.createDataFrame([(h,) for h in wl.hosts], "host string")
    pages = wl.pages.repartition(P, "host", "url_key").persist(
        StorageLevel.DISK_ONLY
    )
    udfs = canon.register_udfs()
    bcfg = bloom_mod.BloomConfig(
        buckets=cfg.bloom_buckets, bits_per_bucket=cfg.bloom_bits
    )
    busy = dict.fromkeys(
        ("schedule", "robots", "fetch", "parse", "canon"), 0.0
    )
    n = dict.fromkeys(
        ("carried", "ok", "dirty", "links", "slow", "first", "maybe", "fp"), 0
    )
    rounds = 0
    for r in range(cfg.max_rounds):
        frontier = store.read_batch("frontier", r)
        if frontier is None:
            break
        rounds += 1
        held = []
        scheduled, carry = schedule_round(
            frontier.drop("round"), cfg.host_budget, cfg.priority_order,
            host_budgets=budgets,
            default_budget=inputs.default_budget(),
        )
        scheduled, s = _materialize(spread_for_fetch(
            scheduled.withColumn("round", F.lit(r)), P, salt=r
        ))
        held.append(scheduled)
        busy["schedule"] += s
        n["carried"] += carry.count() if carry is not None else 0
        allowed, _denied = apply_robots(scheduled, rules, compiled)
        allowed, s = _materialize(allowed)
        held.append(allowed)
        busy["robots"] += s
        fetched, s = _materialize(resolve_fetch(
            allowed, pages, allowed_hosts=hosts, broadcast_pages=False
        ))
        held.append(fetched)
        busy["fetch"] += s
        marked, s1 = _materialize(mark_dirty(fetched))
        parsed, s2 = _materialize(parse_stage(marked, native=True))
        held += [marked, parsed]
        busy["parse"] += s1 + s2
        n["dirty"] += marked.filter(F.col("_parse_dirty")).count()
        n["ok"] += parsed.filter(F.col("fetched_ok")).count()
        pre, s1 = _materialize(canon.canonize_links_prepared(
            _links(parsed), "href"
        ))
        fast, slow = canon.canonize_links_split(pre, udfs["canonize"])
        slow, s2 = _materialize(slow)
        held += [pre, slow]
        busy["canon"] += s1 + s2
        n["links"] += pre.count()
        n["slow"] += slow.count()
        # bloom: the round's accepted first-wins candidates against the
        # bitmaps and seen batches the engine probed in this round
        cands = fast.unionByName(slow).join(
            F.broadcast(hosts.withColumn("_hin", F.lit(True))), "host", "left"
        ).filter(
            F.col("url").isNotNull() & F.col("url_key").isNotNull()
            & F.col("_hin").isNotNull()
        ).withColumn("seen_key", F.concat("host", "url_key"))
        w = Window.partitionBy("seen_key").orderBy("parent_disc", "link_index")
        first = cands.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        ).select("seen_key")
        bitmaps = store.read_batch("bloom", r)
        if bitmaps is not None:
            flagged = bloom_mod.flag_candidates(
                spark, first, "seen_key", bloom_mod.to_dict(bitmaps), bcfg
            ).persist()
            held.append(flagged)
            n["first"] += flagged.count()
            maybe = flagged.filter(F.col("_maybe"))
            n["maybe"] += maybe.count()
            seen = store.read_batches("seen", r).select(
                F.col("url_key").alias("seen_key")
            )
            n["fp"] += maybe.join(seen, "seen_key", "left_anti").count()
        for h in held:
            h.unpersist()
    pages.unpersist()
    return {
        "schedule.busy_s": busy["schedule"],
        "schedule.carried": n["carried"] / max(rounds, 1),
        "robots.busy_s": busy["robots"],
        "fetch.busy_s": busy["fetch"],
        "parse.busy_s": busy["parse"],
        "parse.dirty_frac": n["dirty"] / max(n["ok"], 1),
        "canon.busy_s": busy["canon"],
        "canon.slow_frac": n["slow"] / max(n["links"], 1),
        "bloom.maybe_frac": n["maybe"] / max(n["first"], 1),
        "bloom.fp_frac": n["fp"] / max(n["maybe"], 1),
    }


def storage_sizes(ckpt: str) -> dict:
    """Parquet bytes and file counts per checkpoint table."""
    m = {}
    for t in TABLES:
        size = files = 0
        for root, _dirs, names in os.walk(os.path.join(ckpt, t)):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, name))
        m[f"storage.bytes.{t}"] = size
        m[f"storage.files.{t}"] = files
    return m


def crawl_spans(spans: Spans, out, spark) -> dict:
    """Per-layer numbers from the spans of one traced crawl."""
    gaps = [b - a for a, b in zip(spans.ends("write_state"),
                                  spans.ends("write_state")[1:])]
    resume_at = spans.marks["resume"]
    first_read = min(
        ((s, e) for n, s, e in spans.spans
         if n == "read.frontier" and s >= resume_at),
        default=(0.0, 0.0),
    )
    lineage = {
        r["reason"]: r["n"]
        for r in CheckpointStore(spark, out.ckpt).read("lineage")
        .groupBy("reason").agg(F.sum("n").alias("n")).collect()
    }
    accepted = sum(
        lineage.get(k, 0) for k in ("duplicate", "budget", "pushed")
    )
    probes = [p for c in out.crawlers for p in c.probe_choices]
    dedup = spans.durations("dedup")
    m = {
        "engine.round_s.p50": statistics.median(gaps) if gaps else 0.0,
        "engine.round_s.max": max(gaps, default=0.0),
        "frontier.dedup_s": sum(dedup) / max(len(dedup), 1),
        "frontier.dup_frac": lineage.get("duplicate", 0) / max(accepted, 1),
        "frontier.probe_broadcast_rounds": probes.count("broadcast"),
        "frontier.probe_merge_rounds": probes.count("merge"),
        "bloom.build_s": spans.total("bloom_build"),
        "storage.local_append_s": spans.total("append_local"),
        "storage.resume_s": spans.total("read_state", resume_at)
        + spans.total("truncate_after", resume_at)
        + (first_read[1] - first_read[0]),
    }
    for t in APPEND_TABLES:
        m[f"storage.append_s.{t}"] = spans.total(f"append.{t}")
    return m
