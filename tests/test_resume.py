"""Kill-safe resume: stopping after round k and resuming from the latest
committed snapshot yields the exact same state as an uninterrupted run
(the reference's "no risk of creating a corrupt state", README Stopping;
checkpoints crawlerdata.lastid, dumpall.py:83-87)."""

from __future__ import annotations

import os

import pytest

from twawler_spark.io_catalog import Catalog
from twawler_spark.operators.seen_filter import BroadcastBloom
from twawler_spark.plans.round import bloom_prefix, bootstrap, run_rounds

from .conftest import N_HOSTS


def _setup(spark, crawl_root, root):
    cat = Catalog(spark, root)
    for name in ("frontier_seed", "seen_seed", "host_budget", "robots"):
        spark.read.parquet(f"{crawl_root}/{name}").write.parquet(f"{root}/{name}")
    bootstrap(cat, cat.read_input("frontier_seed"), cat.read_input("seen_seed"))
    return cat


def test_resume_equals_uninterrupted(spark, crawl_root, tmp_path_factory):
    a = _setup(spark, crawl_root, str(tmp_path_factory.mktemp("a")))
    run_rounds(a, 4, n_hosts=N_HOSTS)

    b = _setup(spark, crawl_root, str(tmp_path_factory.mktemp("b")))
    run_rounds(b, 2, n_hosts=N_HOSTS)
    # "kill": drop every in-memory handle; a new Catalog resumes from disk
    b2 = Catalog(spark, b.root)
    assert b2.latest_round("frontier") == 2
    run_rounds(b2, 4, n_hosts=N_HOSTS)

    left = {tuple(r) for r in a.read_frontier(4).collect()}
    right = {tuple(r) for r in b2.read_frontier(4).collect()}
    assert left == right
    seen_a = {tuple(r) for r in a.read_committed("seen", 4).collect()}
    seen_b = {tuple(r) for r in b2.read_committed("seen", 4).collect()}
    assert seen_a == seen_b

    docs_a = {r["doc_id"] for r in a.read_committed("documents", 4).collect()}
    docs_b = {r["doc_id"] for r in b2.read_committed("documents", 4).collect()}
    assert docs_a == docs_b


@pytest.fixture(scope="module")
def five_rounds(spark, crawl_root, tmp_path_factory):
    cat = _setup(spark, crawl_root, str(tmp_path_factory.mktemp("e")))
    return cat, run_rounds(cat, 5, n_hosts=N_HOSTS)


def test_compaction_and_history_expiry(five_rounds):
    """COMPACT_EVERY=4: round 4 writes a compaction snapshot and expires
    earlier manifests/deltas; reads and resume still work after."""
    from twawler_spark.plans.round import round_status

    cat, stats = five_rounds
    assert cat.compaction_rounds("frontier") == [4]  # 0..3 expired at r4
    assert cat.committed_rounds("frontier") == [4, 5]
    assert cat.latest_round("frontier") == 5
    assert sorted(os.listdir(f"{cat.root}/bloom")) == [
        "4.bits", "4.json", "5.bits", "5.json"
    ]
    assert sorted(os.listdir(f"{cat.root}/seen/_manifests")) == ["4.json", "5.json"]
    assert cat.read_frontier(5).count() > 0
    # manifest arithmetic matches the materialized view
    assert cat.read_manifest("frontier", 5)["n_rows"] == cat.read_frontier(5).count()
    # RoundStats commit with the round: the compaction snapshot's (its
    # n_frontier is the snapshot count) and the next delta round's;
    # stats of expired rounds went with their manifests
    assert cat.read_manifest("frontier", 4)["stats"] == vars(stats[3])
    assert stats[3].n_frontier == cat.read_manifest("frontier", 4)["n_rows"]
    assert cat.read_manifest("frontier", 5)["stats"] == vars(stats[4])
    assert round_status(cat) == {
        "committed_rounds": [4, 5],
        "stats": [vars(stats[3]), vars(stats[4])],
    }


def test_seen_counts_keys(five_rounds):
    """A 404 key is already in seen (as tracked) and in the filter, so
    the round's count and the filter's grow by the admitted keys only:
    each round's ``n_seen`` is the distinct keys of its committed seen."""
    cat, stats = five_rounds
    for st in stats:
        keys = cat.read_committed("seen", st.round).select("url_hash").distinct().count()
        assert st.n_seen == keys, st.round
    last = stats[-1]
    assert cat.read_manifest("seen", last.round)["n_rows"] == last.n_seen
    assert BroadcastBloom.load(bloom_prefix(cat, last.round)).n_keys == last.n_seen


def test_manifest_lineage(spark, crawl_root, tmp_path_factory):
    cat = _setup(spark, crawl_root, str(tmp_path_factory.mktemp("m")))
    run_rounds(cat, 1, n_hosts=N_HOSTS)
    man = cat.read_manifest("frontier", 0)  # round 0 = compaction snapshot
    assert man["kind"] == "compaction"
    assert man["n_rows"] == sum(p["rows"] for p in man["partitions"])
    assert man["n_rows"] > 0
    # the lineage names every file of the snapshot with its row count
    snap = f"{cat.root}/frontier/snap=0"
    assert sorted(p["file"] for p in man["partitions"]) == sorted(
        f for f in os.listdir(snap) if f.endswith(".parquet")
    )
    for p in man["partitions"]:
        assert spark.read.parquet(f"{snap}/{p['file']}").count() == p["rows"], p
    assert "url_hash" in man["columns"]
    man1 = cat.read_manifest("frontier", 1)  # delta-only commit
    assert man1["kind"] == "commit" and man1["n_rows"] > 0
