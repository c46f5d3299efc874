"""Seeded load generator for the crawl-round benchmark (untimed).

Writes the four input tables the program reads (``frontier_seed``,
``seen_seed``, ``host_budget``, ``robots``) as parquet, in the schema
and with the shapes of the program's own generator
(``twawler_spark.synth``): log-uniform host popularity, 92% active rows,
a ~20% seen share, budgets of 2-31 per host, and robots rules denying
one ``/p/<digit>`` prefix on a quarter of the hosts. Every value is
drawn from ``numpy.random.default_rng(seed)``, so each seed gives a
different key set with the same shapes. ``url_hash`` is the program's
hash of the URL: ``hashing.xxh64_str``, the Python twin of
``functions.urls.url_hash64`` (Spark's ``xxhash64``). The rows go to
``n_files`` files per table, as the program's generator writes one file
per default-parallelism partition.

No Spark: the inputs exist before the session starts, so the session's
first jobs are the program's own set-up.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def _write(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // n_files) or 1
    for k, lo in enumerate(range(0, max(table.num_rows, 1), step)):
        pq.write_table(table.slice(lo, step), f"{path}/part-{k:05d}.parquet")


def write_inputs(root: str, n_urls: int, n_hosts: int, seed: int, n_files: int) -> None:
    from twawler_spark.hashing import to_signed64, xxh64_str
    from twawler_spark.synth import NOW_EPOCH

    rng = np.random.default_rng([seed, n_urls, n_hosts])
    n = n_urls
    host_id = np.minimum(n_hosts - 1, np.floor(n_hosts ** rng.random(n)) - 1).astype(np.int64)
    hosts = np.array([f"h{h}.example.com" for h in range(n_hosts)], dtype=object)
    host = hosts[host_id]
    salt = rng.integers(0, 2**63, n, dtype=np.int64)
    paths = [f"/p/{i}-{s:016x}" for i, s in enumerate(salt.tolist())]
    urls = [f"https://{h}{p}" for h, p in zip(host.tolist(), paths)]
    url_hash = np.array([to_signed64(xxh64_str(u)) for u in urls], dtype=np.int64)
    r = rng.integers(0, 100, n)
    state = np.where(r < 92, "active", np.where(r < 94, "ignored", np.where(
        r < 96, "dead", np.where(r < 98, "suspended", "protected")))).astype(object)
    hours_idle = 1.0 + 200.0 * rng.random(n)
    latest = NOW_EPOCH - (hours_idle * 3600).astype(np.int64)
    ts = pa.timestamp("us", tz="UTC")
    frontier = pa.table({
        "host": pa.array(host, pa.string()),
        "state": pa.array(state, pa.string()),
        "state_round": pa.array(np.zeros(n, np.int32)),
        "last_id": pa.array(rng.integers(0, 2**40, n, dtype=np.int64)),
        "first_id": pa.array(rng.integers(0, 2**20, n, dtype=np.int64)),
        "reached": pa.array(rng.integers(0, 10, n) < 3),
        "latest_ts": pa.array(latest * 1_000_000, ts),
        "earliest_ts": pa.array((latest - 86400 * 30) * 1_000_000, ts),
        "rate_tph": pa.array(0.05 + 50.0 * rng.random(n) ** 3),
        "discovered_round": pa.array(np.zeros(n, np.int32)),
        "url": pa.array(urls, pa.string()),
        "url_hash": pa.array(url_hash),
        "path": pa.array(paths, pa.string()),
    })
    _write(frontier, f"{root}/frontier_seed", n_files)

    s = rng.integers(0, 10, n)
    keep = s < 2
    _write(pa.table({
        "url_hash": pa.array(url_hash[keep]),
        "set_name": pa.array(np.where(s[keep] == 0, "fetched", "ignored").astype(object), pa.string()),
        "added_round": pa.array(np.zeros(int(keep.sum()), np.int32)),
    }), f"{root}/seen_seed", n_files)

    _write(pa.table({
        "host": pa.array(hosts, pa.string()),
        "budget_per_round": pa.array((2 + rng.integers(0, 30, n_hosts)).astype(np.int32)),
        "min_delay_s": pa.array((1 + rng.integers(0, 10, n_hosts)).astype(np.int32)),
    }), f"{root}/host_budget", 1)

    deny = rng.integers(0, 4, n_hosts) == 0
    _write(pa.table({
        "host": pa.array(hosts[deny], pa.string()),
        "rule": pa.array(["deny"] * int(deny.sum()), pa.string()),
        "path_prefix": pa.array([f"/p/{d}" for d in rng.integers(0, 10, int(deny.sum()))], pa.string()),
    }), f"{root}/robots", 1)
