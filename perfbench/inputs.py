"""Seeded input tables for the benchmark workloads.

Everything here is numpy + pyarrow on the benchmark's own process: no
Spark job and no ``fastfilter_spark`` code runs while inputs are made,
and none of it is counted in any metric.  The program under test only
ever sees the parquet directories written here.

Urls look like ``https://siteNNNN.example.org/p/<id>``.  The domain is a
zipf-weighted function of the id (hot prefixes, as in a crawl), so a
re-emitted id is a byte-identical url.  Ids are drawn from a 62-bit
space per seed, so every seed gives a different key set.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_N_DOMAINS = 1000
_DOM_CUM = np.cumsum(1.0 / np.arange(1, _N_DOMAINS + 1))
_DOM_CUM /= _DOM_CUM[-1]
_PREFIXES = pa.array([f"https://site{i:04d}.example.org/p/"
                      for i in range(_N_DOMAINS)])
_FILES = 4  # one scan task per core


def mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over uint64 (wrapping arithmetic)."""
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def distinct_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct positive int64 ids in random order."""
    ids = np.unique(rng.integers(1, 1 << 62, size=n + n // 64 + 16))
    while ids.size < n:
        ids = np.unique(np.concatenate(
            [ids, rng.integers(1, 1 << 62, size=n - ids.size + 16)]))
    return rng.permutation(ids)[:n]


def urls(ids: np.ndarray) -> pa.Array:
    u = (mix(ids) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    dom = np.minimum(np.searchsorted(_DOM_CUM, u), _N_DOMAINS - 1)
    return pc.binary_join_element_wise(
        _PREFIXES.take(pa.array(dom)), pa.array(ids).cast(pa.string()), "")


def with_duplicates(rng: np.random.Generator, ids: np.ndarray,
                    fraction: float) -> np.ndarray:
    """``ids`` plus ``fraction`` of them re-emitted, shuffled together."""
    dup = rng.choice(ids, size=int(ids.size * fraction))
    return rng.permutation(np.concatenate([ids, dup]))


def write(path: str, columns: dict) -> str:
    """Write ``columns`` as a parquet directory of ``_FILES`` files."""
    table = pa.table(columns)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // _FILES)
    for i in range(_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:02d}.parquet"))
    return path
