"""The ``corpus`` workload: the training-data operators of
``crawlspark.analysis`` and ``crawlspark.media`` over a generated corpus.

No crawl runs here: these are read-only scans, unlike the crawl's
write-heavy appends, so a session setting tuned for the crawl that slows
them shows on this workload. One operation is one pass over the operator
set, each result collected to the driver. Each result must equal the
operator's DuckDB oracle from ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from dataclasses import dataclass

from . import inputs

#: operator name in ``__spark_entry__.queries()`` -> per-layer metric
OPERATORS = {
    "minhash_lsh": "analysis.minhash_lsh_s",
    "simhash_dups": "analysis.simhash_dups_s",
    "ngram_jaccard": "analysis.ngram_jaccard_s",
    "ann_lsh_topk": "analysis.ann_lsh_topk_s",
    "embedding_near_dups": "analysis.embedding_near_dups_s",
    "dedup_exact_hash": "analysis.dedup_exact_hash_s",
    "lang_id": "analysis.lang_id_s",
    "quality_score": "analysis.quality_score_s",
    "media_features": "media.media_features_s",
    "image_near_dups": "media.image_near_dups_s",
}
TABLES = ("documents", "embeddings")
work_unit = "operators"  # what work_done counts
attempts_per_op = len(OPERATORS)


def headline(outs) -> tuple:
    """``corpus_s``, the pass wall time: ``len(OPERATORS) / work_per_s``."""
    return ("corpus_s", statistics.median(o.wall_s for o in outs)
            if outs else 0.0, "s")


def build(seed: int, data_dir: str, parts: int) -> None:
    inputs.write_corpus(seed, data_dir)


def _canon(rows: list[dict], cols: list[str]) -> list:
    """[column names, rows in a canonical order with floats rounded],
    as JSON values so oracle and Spark results compare alike."""
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6)
            vals.append(v)
        out.append(vals)
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return json.loads(json.dumps([cols, out]))


def expected(seed: int, data_dir: str, cache_dir: str) -> dict:
    """DuckDB oracle rows per operator over the same parquet files,
    cached by the input files and the oracle's sources."""
    import crawlspark

    def compute():
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            for t in TABLES:
                path = os.path.join(data_dir, f"{t}.parquet")
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
            want = {}
            for name in OPERATORS:
                res = con.execute(sql[name])
                cols = [d[0] for d in res.description]
                rows = [dict(zip(cols, r)) for r in res.fetchall()]
                want[name] = _canon(rows, sorted(cols))
        finally:
            con.close()
        return want

    pkg = os.path.dirname(crawlspark.__file__)
    root = os.path.dirname(pkg)
    return inputs.cached_json(
        cache_dir, "corpus", sorted(OPERATORS),
        [os.path.join(data_dir, f"{t}.parquet") for t in TABLES]
        + [os.path.join(root, "__spark_entry__.py")]
        + [os.path.join(pkg, f"{m}.py")
           for m in ("analysis", "media", "textnorm")],
        compute,
    )


@dataclass
class CorpusOutput:
    t0: float  # epoch seconds at the pass start
    t1: float
    wall_s: float
    op_s: dict  # operator -> seconds
    rows: dict  # operator -> canonical rows
    errors: dict  # operator -> exception text


class Workload:
    def __init__(self, spark, data_dir: str, work_dir: str, cores: int):
        import __spark_entry__ as entry

        self.spark = spark
        self.dir = data_dir
        self.queries = entry.queries()

    def op(self, tracer=None) -> CorpusOutput:
        op_s, rows, errors = {}, {}, {}
        epoch0 = time.time()
        t0 = time.perf_counter()
        for name in OPERATORS:
            t = time.perf_counter()
            try:
                df = self.queries[name](self.spark, self.dir)
                got = [r.asDict() for r in df.collect()]
                rows[name] = _canon(got, sorted(df.columns))
            except Exception as e:  # counted as a failed operation
                errors[name] = f"{type(e).__name__}: {e}"
            op_s[name] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        return CorpusOutput(epoch0, epoch0 + wall, wall, op_s, rows, errors)

    def release(self, out: CorpusOutput) -> None:
        pass

    @staticmethod
    def work_done(out: CorpusOutput) -> float:
        return len(OPERATORS)

    @staticmethod
    def failures(out: CorpusOutput, want: dict) -> list[str]:
        """Operators of this pass that raised or whose rows differ."""
        return [
            name for name in OPERATORS
            if name in out.errors or out.rows.get(name) != want[name]
        ]
