"""The round's commit protocol with overlapped writes, and the catalog's
declared-schema contract.

``run_round`` runs its appends on worker threads next to the main
thread's checkpoints and joins them all before the seen manifest, the
seen-filter save and the frontier manifest. A write that fails must
leave the round uncommitted, with no write still running, and a resume
must reach the uninterrupted state. The same holds at every commit
boundary after the writes: the seen manifest, the seen-filter save,
the frontier manifest, round 4's compaction snapshot and the history
expiry after it. Writes of the round's own tables are checked against
``schemas.CATALOG_TABLES``; reads of them run no schema-inference job.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from twawler_spark import reference_sim
from twawler_spark.io_catalog import Catalog
from twawler_spark.operators.seen_filter import BroadcastBloom
from twawler_spark.plans import round as round_mod
from twawler_spark.plans.round import (
    COMPACT_EVERY,
    bootstrap,
    round_status,
    run_round,
    run_rounds,
)
from twawler_spark.schemas import CATALOG_TABLES
from twawler_spark.session import default_cpus, default_driver_memory

from .conftest import N_HOSTS

N_ROUNDS = 2
# one round past the first compaction (round COMPACT_EVERY)
COMPACT_ROUNDS = COMPACT_EVERY + 1
APPENDED = ("crawl_order", "documents", "follow_edges", "frontier_v", "seen")


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
        {tuple(r) for r in cat.read_frontier(upto).collect()},
        {tuple(r) for r in cat.read_committed("seen", upto).collect()},
        {r["doc_id"] for r in cat.read_committed("documents", upto).collect()},
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
    # a reader of the committed rounds sees none of round 1's appends,
    # though some of them are on disk
    upto = cat.latest_round("frontier")
    written = [t for t in APPENDED if os.path.isdir(f"{cat.root}/{t}/data/round=1")]
    assert written
    for t in written:
        assert cat.read_committed(t, upto).where(F.col("round") == 1).count() == 0

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
        frontier = cat.read_frontier(N_ROUNDS)
        seen = cat.read_committed("seen", N_ROUNDS)
        assert frontier.columns == CATALOG_TABLES["frontier"].fieldNames()
        assert seen.columns == CATALOG_TABLES["seen"].fieldNames() + ["round"]
        for table in ("crawl_order", "follow_edges"):
            df = cat.read_committed(table, N_ROUNDS)
            assert df.columns == CATALOG_TABLES[table].fieldNames() + ["round"]
        # DOCUMENTS declares ``round``: read once, last like every partition column
        docs = cat.read_committed("documents", N_ROUNDS)
        declared = CATALOG_TABLES["documents"].fieldNames()
        assert docs.columns == [c for c in declared if c != "round"] + ["round"]
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_unwritten_tables_read_empty(spark, crawl_root, tmp_path):
    """A bootstrapped catalog has written only ``seen``: each other
    appended table reads as an empty frame with its declared columns
    (``round`` last), and building those reads submits no Spark job."""
    cat = _setup(spark, crawl_root, str(tmp_path))
    tables = ("documents", "follow_edges", "crawl_order", "frontier_v")
    sc = spark.sparkContext
    group = "test-unwritten-reads"
    sc.setJobGroup(group, group)
    try:
        frames = {t: cat.read_committed(t, 0) for t in tables}
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    for table, df in frames.items():
        declared = CATALOG_TABLES[table].fieldNames()
        assert df.columns == [c for c in declared if c != "round"] + ["round"], table
        assert df.collect() == [], table


def test_delta_round_commits_stats_in_manifest(uninterrupted):
    cat, stats = uninterrupted
    for st in stats:
        assert cat.read_manifest("frontier", st.round)["stats"] == vars(st)
    assert "stats" not in cat.read_manifest("frontier", 0)


def _conforming(spark, table):
    return spark.createDataFrame([], CATALOG_TABLES[table])


MUTATIONS = {
    "missing": lambda df, key: (df.drop(key), key),
    "extra": lambda df, key: (df.withColumn("bogus", F.lit(1)), "bogus"),
    "retyped": lambda df, key: (df.withColumn(key, F.col(key).cast("string")), key),
}


@pytest.mark.parametrize("mutation", sorted(MUTATIONS))
@pytest.mark.parametrize(
    "table",
    ["frontier", "frontier_v", "seen", "documents", "follow_edges", "crawl_order"],
)
def test_write_rejects_schema_violation(spark, tmp_path, table, mutation):
    cat = Catalog(spark, str(tmp_path))
    write = cat.write_snapshot if table == "frontier" else cat.append
    key = "src_hash" if table == "follow_edges" else "url_hash"  # a declared long
    bad, column = MUTATIONS[mutation](_conforming(spark, table), key)
    with pytest.raises(ValueError, match=f"{table}: column '{column}'"):
        write(bad, table, 1)
    assert not os.path.exists(f"{cat.root}/{table}")  # nothing written
    write(_conforming(spark, table), table, 1)


def test_default_driver_memory_fits_host():
    gib = int(default_driver_memory().removesuffix("g"))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= gib <= 16
    assert gib == 1 or gib * 2**30 <= phys // 2


def test_default_cpus_fit_host():
    assert 1 <= default_cpus() == len(os.sched_getaffinity(0)) <= os.cpu_count()


def test_undeclared_table_raises(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = _conforming(spark, "seen")
    with pytest.raises(KeyError, match="seen_copy"):
        cat.append(df, "seen_copy", 1)
    with pytest.raises(KeyError, match="seen_copy"):
        cat.read_committed("seen_copy", 1)
    assert not os.path.exists(f"{cat.root}/seen_copy")


def test_manifest_without_kind_raises(spark, tmp_path):
    """Both manifest writers set ``kind``: a manifest without one is
    corrupt and fails the compaction listing, not a later read."""
    cat = Catalog(spark, str(tmp_path))
    cat.commit_round("frontier", 0, 0)
    path = f"{cat.root}/frontier/_manifests/0.json"
    with open(path) as f:
        manifest = json.load(f)
    del manifest["kind"]
    with open(path, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(KeyError, match="kind"):
        cat.compaction_rounds("frontier")


# --------------------------------------------------- commit boundaries
@pytest.fixture(scope="module")
def committed_through(spark, crawl_root, tmp_path_factory):
    """``copy(r, dest)``: a catalog with rounds 0..r committed, at
    ``dest``. Each ``r`` is crawled once; every caller gets a copy."""
    built = {}

    def copy(r: int, dest: str) -> Catalog:
        if r not in built:
            cat = _setup(spark, crawl_root, str(tmp_path_factory.mktemp(f"through{r}")))
            run_rounds(cat, r, n_hosts=N_HOSTS)
            built[r] = cat.root
        shutil.copytree(built[r], dest)
        return Catalog(spark, dest)

    return copy


@pytest.fixture(scope="module")
def whole(spark, crawl_root, tmp_path_factory, uninterrupted):
    """``whole(n)``: an uninterrupted catalog through round ``n`` and the
    reference simulator's run of ``n`` rounds, each computed once."""
    cats = {N_ROUNDS: uninterrupted[0]}
    sims = {}

    def get(n: int):
        if n not in cats:
            cats[n] = _setup(spark, crawl_root, str(tmp_path_factory.mktemp(f"whole{n}")))
            run_rounds(cats[n], n, n_hosts=N_HOSTS)
        if n not in sims:
            sims[n] = reference_sim.run(crawl_root, n, n_hosts=N_HOSTS)
        return cats[n], sims[n]

    return get


def _rows(df) -> list[str]:
    """Every row of ``df``, order-free, duplicates kept."""
    return sorted(
        json.dumps(r.asDict(recursive=True), default=str, sort_keys=True)
        for r in df.collect()
    )


def _tables(cat: Catalog, upto: int) -> dict:
    return {
        "frontier": _rows(cat.read_frontier(upto)),
        **{t: _rows(cat.read_committed(t, upto)) for t in APPENDED},
    }


def _history(cat: Catalog) -> tuple:
    """What a committed catalog keeps besides its tables: committed and
    compaction rounds, filter files, seen manifests and round stats."""
    return (
        cat.committed_rounds("frontier"),
        cat.compaction_rounds("frontier"),
        sorted(os.listdir(f"{cat.root}/bloom")),
        sorted(os.listdir(f"{cat.root}/seen/_manifests")),
        round_status(cat),
    )


def _as_sim(cat: Catalog, upto: int) -> tuple:
    """The round tables keyed as ``reference_sim.SimResult`` keys them
    (test_round_equivalence's comparisons)."""
    frontier = cat.read_frontier(upto).collect()
    return (
        {
            (r["round"], r["host"], r["phase"], r["fetch_rank"], r["url_hash"])
            for r in cat.read_committed("crawl_order", upto).collect()
        },
        {r["url_hash"] for r in cat.read_committed("seen", upto).collect()},
        {
            r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in cat.read_committed("documents", upto).collect()
        },
        {
            (r["src_hash"], r["dst_hash"])
            for r in cat.read_committed("follow_edges", upto).collect()
        },
        {r["url_hash"]: r["state"] for r in frontier},
        {r["url_hash"]: (r["last_id"], r["first_id"], r["reached"]) for r in frontier},
    )


def _sim_tables(sim) -> tuple:
    return (
        set(sim.crawl_order),
        sim.seen,
        sim.documents,
        sim.edges,
        sim.frontier_states,
        {
            uh: (row["last_id"], row["first_id"], row["reached"])
            for uh, row in sim.frontier_rows.items()
        },
    )


def _manifest_of(table: str, round_no: int):
    return lambda self, t, r, manifest: (t, r) == (table, round_no)


def _path_of(suffix: str):
    return lambda path, *args, **kwargs: str(path).endswith(suffix)


# boundary -> (failing round, owner, attribute, which call fails). The
# manifest cases fail inside commit_round / write_snapshot at the rename
# that commits them (a compaction's snapshot files are already written);
# the expiry cases fail after round 4's snapshot committed: before the
# expiry, or inside it while it removes round 0's filter files or round
# 0's frontier snapshot.
BOUNDARIES = {
    "seen_manifest": (1, Catalog, "_write_manifest", _manifest_of("seen", 1)),
    "filter_save": (1, BroadcastBloom, "save", lambda self, prefix: prefix.endswith("/1")),
    "frontier_manifest": (1, Catalog, "_write_manifest", _manifest_of("frontier", 1)),
    "compaction_snapshot": (
        COMPACT_EVERY, Catalog, "_write_manifest", _manifest_of("frontier", COMPACT_EVERY),
    ),
    "expiry": (COMPACT_EVERY, round_mod, "expire_frontier_history", lambda cat: True),
    "expiry_filter_file": (COMPACT_EVERY, os, "remove", _path_of("/bloom/0.bits")),
    "expiry_snapshot": (COMPACT_EVERY, shutil, "rmtree", _path_of("/frontier/snap=0")),
}


@pytest.mark.parametrize("boundary", list(BOUNDARIES))
def test_failed_commit_resumes_to_uninterrupted(
    spark, tmp_path, monkeypatch, committed_through, whole, boundary
):
    """A failure at each commit boundary leaves the round uncommitted
    (the expiry's round stays committed, with its history on disk and
    every round it has not finished still listed); a
    resume reaches the uninterrupted run, the reference simulator's
    tables, and the uninterrupted history (an interrupted expiry is
    finished)."""
    r, owner, name, fails = BOUNDARIES[boundary]
    n = N_ROUNDS if r == 1 else COMPACT_ROUNDS
    cat = committed_through(r - 1, str(tmp_path / "cat"))
    raw = getattr(owner, name)

    def failing(*args, **kwargs):
        if fails(*args, **kwargs):
            raise OSError(f"injected failure at {boundary}")
        return raw(*args, **kwargs)

    monkeypatch.setattr(owner, name, failing)
    with pytest.raises(OSError, match=f"injected failure at {boundary}"):
        run_round(cat, r, N_HOSTS)
    monkeypatch.undo()
    if boundary.startswith("expiry"):
        # every round the expiry has not finished keeps its manifest
        assert cat.latest_round("frontier") == r
        assert cat.committed_rounds("frontier") == list(range(r + 1))
    else:
        assert cat.latest_round("frontier") == r - 1

    resumed = Catalog(spark, cat.root)
    run_rounds(resumed, n, n_hosts=N_HOSTS)
    ref, sim = whole(n)
    assert _tables(resumed, n) == _tables(ref, n)
    assert _as_sim(resumed, n) == _sim_tables(sim)
    assert _history(resumed) == _history(ref)
    if n == COMPACT_ROUNDS:
        # test_compaction_and_history_expiry's state after 5 rounds
        assert resumed.committed_rounds("frontier") == [4, 5]
        assert resumed.compaction_rounds("frontier") == [4]
        assert sorted(os.listdir(f"{resumed.root}/bloom")) == [
            "4.bits", "4.json", "5.bits", "5.json"
        ]
        assert sorted(os.listdir(f"{resumed.root}/seen/_manifests")) == ["4.json", "5.json"]
        assert (
            resumed.read_manifest("frontier", 5)["n_rows"]
            == resumed.read_frontier(5).count()
        )
