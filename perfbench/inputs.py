"""Benchmark inputs, generated from the run's seed.

The program under test receives only what these functions produce: the
crawl's pages table, seed table and robots rules, and the corpus
workload's ``documents`` / ``embeddings`` parquet tables.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- crawl ------------------------------------------------------------------

#: The crawl web: a link-dense power-law graph (about 25 links and 20
#: paragraphs per page, one hot host holding 40% of the pages). A crawl
#: of it is dominated by fixed per-round costs at 3,000 pages and still
#: at 30,000 (69 s against 78 s on 4 cores); larger webs only lengthen
#: the oracle and the input build, which the run budget cannot afford
#: (perfbench/METRICS.md, "Where the crawl's time goes").
GRAPH = dict(
    n_pages=3000, n_hosts=24, out_degree=25, paragraphs=20,
    hot_host_share=0.4, seed_fraction=0.05,
)
HOT_HOST = "h0.example"
#: Politeness: every host without a robots crawl-delay gets
#: ceil(ROUND_WALL_SECS / DEFAULT_DELAY_SECS) fetches per round, which
#: never binds at this size; the hot host's robots crawl-delay gives it
#: ceil(ROUND_WALL_SECS / HOT_DELAY_SECS) per round, which does, so its
#: frontier carries over from round to round.
ROUND_WALL_SECS = 600.0
DEFAULT_DELAY_SECS = 0.1
HOT_DELAY_SECS = 15.0


def host_budgets() -> dict:
    """The per-host budgets the robots rules below imply (oracle side)."""
    return {HOT_HOST: math.ceil(ROUND_WALL_SECS / HOT_DELAY_SECS)}


def default_budget() -> int:
    return math.ceil(ROUND_WALL_SECS / DEFAULT_DELAY_SECS)


def robots_rules(hosts) -> list[tuple]:
    """(host, path_prefix, allow, crawl_delay_secs) rows. Every rule
    allows, so the gate does its prefix matching without denying a URL;
    the hot host's rule carries the crawl-delay that binds its budget."""
    rules = [(HOT_HOST, "/", True, HOT_DELAY_SECS)]
    for h in sorted(hosts)[1::3]:
        rules.append((h, "/p/", True, None))
        rules.append((h, "/img/", True, None))
    return rules


def write_crawl(seed: int, out_dir: str, parts: int) -> None:
    """Generate the web with ``crawlspark.synth.powerlaw`` and write the
    ``pages`` (``parts`` files) and ``seeds`` parquet tables into
    ``out_dir``, with the allowed-host list beside them."""
    from crawlspark.synth import PAGES_COLUMNS, powerlaw

    pages, seeds = powerlaw(seed=seed, **GRAPH)
    schema = pa.schema([
        pa.field("url", pa.string(), False),
        pa.field("host", pa.string(), False),
        pa.field("url_key", pa.string(), False),
        pa.field("status", pa.int32(), False),
        pa.field("content_html", pa.string()),
    ])
    os.makedirs(os.path.join(out_dir, "pages"), exist_ok=True)
    step = -(-len(pages) // parts)
    for i in range(parts):
        chunk = pages[i * step:(i + 1) * step]
        table = pa.table(
            {c: [p[c] for p in chunk] for c in PAGES_COLUMNS}, schema=schema
        )
        pq.write_table(
            table, os.path.join(out_dir, "pages", f"part-{i}.parquet")
        )
    os.makedirs(os.path.join(out_dir, "seeds"), exist_ok=True)
    pq.write_table(
        pa.table({"url": seeds,
                  "seed_order": pa.array(range(len(seeds)), pa.int32())}),
        os.path.join(out_dir, "seeds", "part-0.parquet"),
    )
    with open(os.path.join(out_dir, "hosts.json"), "w") as f:
        json.dump(sorted({p["host"] for p in pages}), f)


def crawl_hosts(out_dir: str) -> list[str]:
    """The allowed-host list ``write_crawl`` saved beside the tables."""
    with open(os.path.join(out_dir, "hosts.json")) as f:
        return json.load(f)


# --- corpus -----------------------------------------------------------------

N_DOCS = 500  # media_features' oracle covers doc_id 0..499
N_VECS = 500
DIM = 64
_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join big small stream customer group data vector "
    "query filter column order"
).split()
_STOP = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu", "den", "mit"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "los", "por"],
    "fr": ["le", "la", "de", "et", "un", "est", "en", "que", "les", "des"],
    "zh": [],
}
_LANGS = sorted(_STOP)


def _documents(rng: np.random.Generator) -> pa.Table:
    texts, langs = [], []
    for i in range(N_DOCS):
        lang = _LANGS[rng.integers(len(_LANGS))]
        if i > 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words changed,
            # so the sketch operators have true pairs to find
            words = texts[rng.integers(i)].split()
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(len(words))] = _VOCAB[
                    rng.integers(len(_VOCAB))
                ]
        else:
            pool = _VOCAB + _STOP[lang] * 2
            n = int(rng.integers(20, 90))
            words = [pool[j] for j in rng.integers(len(pool), size=n)]
        texts.append(" ".join(words))
        langs.append(lang)
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(0.0, 0.125, size=(10, DIM))
    labels = rng.integers(10, size=N_VECS)
    vecs = 0.6 * centers[labels] + rng.normal(0.0, 0.1, size=(N_VECS, DIM))
    for i in range(20, N_VECS):
        if rng.random() < 0.05:  # planted near-duplicate vectors
            vecs[i] = vecs[rng.integers(i)] + rng.normal(0.0, 0.01, DIM)
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(
            [row.astype(np.float32) for row in vecs],
            pa.list_(pa.float32()),
        ),
        "label": pa.array(labels, pa.int32()),
    })


def write_corpus(seed: int, out_dir: str) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (the
    shapes the analysis and media operators read) into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_documents(rng), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(
        _embeddings(rng), os.path.join(out_dir, "embeddings.parquet")
    )


def cached_json(cache_dir: str, prefix: str, key, files, compute):
    """``compute()``'s JSON result, cached in ``cache_dir`` under a hash
    of ``key`` and the bytes of ``files``; concurrent writers are safe."""
    h = hashlib.sha256(json.dumps(key, sort_keys=True).encode())
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    path = os.path.join(cache_dir, f"{prefix}-{h.hexdigest()[:24]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    # a JSON round trip so fresh and cached results compare alike
    value = json.loads(json.dumps(compute()))
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value
