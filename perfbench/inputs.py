"""Seeded workload inputs.

The seed is the benchmark's only source of variation: it permutes the
seed-URL order and draws the Zipf host sizes. The engine receives only
what these functions return, never the seed itself.
"""

from __future__ import annotations

import hashlib
import json
import random
import time

from wcm_spark.corpus import CORPUS_SCHEMA, corpus_rows, gen_site_pages_chunk, seed_urls


def seed_order(seed: int, n_sites: int) -> list[str]:
    """The corpus seed URLs (one per site) in a seed-drawn order."""
    urls = seed_urls(n_sites)
    random.Random(seed).shuffle(urls)
    return urls


def zipf_sizes(seed: int, n_sites: int, total: int) -> list[int]:
    """Per-site page counts summing to ``total``: one head site holds half
    the pages and the rest follow a Zipf(1.1) rank law. The seed draws
    which site gets which size, so every seed crawls about the same
    number of pages."""
    head = total // 2
    weights = [1 / r**1.1 for r in range(1, n_sites)]
    scale = (total - head) / sum(weights)
    rest = [max(2, int(w * scale)) for w in weights]
    # settle the rounding difference on the largest non-head sites
    diff = total - head - sum(rest)
    for i in range(abs(diff)):
        rest[i % len(rest)] += 1 if diff > 0 else -1
    sizes = [head] + rest
    random.Random(f"zipf/{seed}").shuffle(sizes)
    return sizes


def fingerprint(value) -> str:
    """Stable digest of a JSON-serialisable input description."""
    blob = json.dumps(value, sort_keys=True, separators=(",", ":")).encode()
    return hashlib.sha256(blob).hexdigest()


def corpus_rows_for(kind: str, shape) -> list[dict]:
    """``uniform`` (n_sites, pages): the rows ``corpus_df`` generates;
    ``sized`` [pages per site]: the rows ``corpus_df_sized`` generates."""
    if kind == "uniform":
        return corpus_rows(*shape)
    rows = []
    for site, pages in enumerate(shape):
        rows.extend(gen_site_pages_chunk(site, len(shape), pages, 0, pages))
    return rows


def write_corpus(kind: str, shape, path: str) -> float:
    """Write the corpus rows to one parquet file with the engine's
    ``CORPUS_SCHEMA``; returns the seconds it took."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    types = {"string": pa.string(), "int": pa.int32(), "bigint": pa.int64(), "binary": pa.binary()}
    schema = pa.schema([
        (name, types[ddl]) for name, ddl in (col.split() for col in CORPUS_SCHEMA.split(","))
    ])
    pq.write_table(pa.Table.from_pylist(corpus_rows_for(kind, shape), schema=schema), path)
    return time.perf_counter() - t0
