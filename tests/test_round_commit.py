"""The round's commit protocol with overlapped writes, and the catalog's
declared-schema contract.

``run_round`` runs its appends on worker threads next to the main
thread's checkpoints and joins them all before the seen manifest, the
seen-filter save and the frontier manifest. A write that fails must
leave the round uncommitted, with no write still running, and a resume
must reach the uninterrupted state. Writes of the round's own tables
are checked against ``schemas.CATALOG_TABLES``; reads of them run no
schema-inference job.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from twawler_spark.io_catalog import Catalog
from twawler_spark.plans.round import (
    bootstrap,
    read_frontier,
    read_seen,
    run_round,
    run_rounds,
)
from twawler_spark.schemas import CATALOG_TABLES
from twawler_spark.session import default_driver_memory

from .conftest import N_HOSTS

N_ROUNDS = 2


def _setup(spark, crawl_root, root):
    cat = Catalog(spark, root)
    for name in ("frontier_seed", "seen_seed", "host_budget", "robots"):
        spark.read.parquet(f"{crawl_root}/{name}").write.parquet(f"{root}/{name}")
    bootstrap(cat, cat.read_input("frontier_seed"), cat.read_input("seen_seed"))
    return cat


@pytest.fixture(scope="module")
def uninterrupted(spark, crawl_root, tmp_path_factory):
    cat = _setup(spark, crawl_root, str(tmp_path_factory.mktemp("whole")))
    return cat, run_rounds(cat, N_ROUNDS, n_hosts=N_HOSTS)


def _state(cat: Catalog, upto: int):
    return (
        {tuple(r) for r in read_frontier(cat, upto).collect()},
        {tuple(r) for r in read_seen(cat, upto).collect()},
        {r["doc_id"] for r in cat.read_appended("documents").collect()},
    )


@pytest.mark.parametrize(
    "table", ["documents", "crawl_order", "follow_edges", "frontier_v", "seen"]
)
def test_failed_write_leaves_round_uncommitted(
    spark, crawl_root, tmp_path_factory, monkeypatch, uninterrupted, table
):
    cat = _setup(spark, crawl_root, str(tmp_path_factory.mktemp(f"fail_{table}")))
    raw_append = Catalog.append
    lock = threading.Lock()
    in_flight = [0]

    def append(self, df, name, round_no):
        with lock:
            in_flight[0] += 1
        try:
            if name == table:
                raise OSError(f"injected failure writing {name}")
            return raw_append(self, df, name, round_no)
        finally:
            with lock:
                in_flight[0] -= 1

    pools_before = {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}
    monkeypatch.setattr(Catalog, "append", append)
    with pytest.raises(OSError, match=f"injected failure writing {table}"):
        run_round(cat, 1, N_HOSTS)
    # every write has finished and the round's worker threads are gone
    assert in_flight[0] == 0
    pools_after = {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}
    assert not {t for t in pools_after - pools_before if t.is_alive()}
    # nothing of round 1 is committed
    assert not os.path.exists(f"{cat.root}/seen/_manifests/1.json")
    assert not os.path.exists(f"{cat.root}/frontier/_manifests/1.json")
    assert not [f for f in os.listdir(f"{cat.root}/bloom") if f.startswith("1.")]
    assert cat.latest_round("frontier") == 0

    monkeypatch.setattr(Catalog, "append", raw_append)
    resumed = Catalog(spark, cat.root)
    run_rounds(resumed, N_ROUNDS, n_hosts=N_HOSTS)
    assert _state(resumed, N_ROUNDS) == _state(uninterrupted[0], N_ROUNDS)


def test_committed_reads_submit_no_jobs(spark, uninterrupted):
    """Declared schemas: building the frontier and seen views of a
    committed round infers nothing, so it submits no Spark job."""
    cat, _ = uninterrupted
    sc = spark.sparkContext
    group = "test-committed-reads"
    sc.setJobGroup(group, group)
    try:
        frontier = read_frontier(cat, N_ROUNDS)
        seen = read_seen(cat, N_ROUNDS)
        assert frontier.columns == CATALOG_TABLES["frontier"].fieldNames()
        assert seen.columns == CATALOG_TABLES["seen"].fieldNames() + ["round"]
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_delta_round_commits_stats_in_manifest(uninterrupted):
    cat, stats = uninterrupted
    for st in stats:
        assert cat.read_manifest("frontier", st.round)["stats"] == vars(st)
    assert "stats" not in cat.read_manifest("frontier", 0)


def _conforming(spark, table):
    return spark.createDataFrame([], CATALOG_TABLES[table])


MUTATIONS = {
    "missing": lambda df: (df.drop("url_hash"), "url_hash"),
    "extra": lambda df: (df.withColumn("bogus", F.lit(1)), "bogus"),
    "retyped": lambda df: (df.withColumn("url_hash", F.col("url_hash").cast("string")), "url_hash"),
}


@pytest.mark.parametrize("mutation", sorted(MUTATIONS))
@pytest.mark.parametrize("table", ["frontier", "frontier_v", "seen"])
def test_write_rejects_schema_violation(spark, tmp_path, table, mutation):
    cat = Catalog(spark, str(tmp_path))
    write = cat.write_snapshot if table == "frontier" else cat.append
    bad, column = MUTATIONS[mutation](_conforming(spark, table))
    with pytest.raises(ValueError, match=f"{table}: column '{column}'"):
        write(bad, table, 1)
    assert not os.path.exists(f"{cat.root}/{table}")  # nothing written
    write(_conforming(spark, table), table, 1)


def test_default_driver_memory_fits_host():
    gib = int(default_driver_memory().removesuffix("g"))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= gib <= 16
    assert gib == 1 or gib * 2**30 <= phys // 2
