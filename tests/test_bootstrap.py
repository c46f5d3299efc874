"""Bootstrap's commit protocol, its Spark job count, and the declared
input reads it starts from.

``bootstrap`` stages round 0's frontier snapshot on a worker thread
while the main thread appends seen, commits the seen manifest, builds
the seen filter and saves it; frontier manifest 0 commits last. A
failure at any of those boundaries must leave round 0 uncommitted with
no worker still running, and bootstrapping the same root again must
give the uninterrupted state. ``Catalog.read_input`` reads the four
inputs with their declared schemas: it submits no Spark job and raises
on a missing or retyped input column.
"""

from __future__ import annotations

import os
import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from twawler_spark.io_catalog import Catalog
from twawler_spark.operators.seen_filter import BroadcastBloom
from twawler_spark.plans.round import bloom_prefix, bootstrap
from twawler_spark.schemas import INPUT_TABLES

INPUTS = tuple(INPUT_TABLES)
# Spark jobs one bootstrap of the tier-1 inputs submits: the seen append,
# the frontier snapshot write and the filter build with their broadcasts
# and merge, and no inference, distinct or read-back job
BOOTSTRAP_JOBS = 6


def _catalog(spark, crawl_root, root) -> Catalog:
    for name in INPUTS:
        shutil.copytree(f"{crawl_root}/{name}", f"{root}/{name}")
    return Catalog(spark, root)


def _bootstrap(cat: Catalog) -> None:
    bootstrap(cat, cat.read_input("frontier_seed"), cat.read_input("seen_seed"))


def _state(cat: Catalog) -> tuple:
    """Round 0 as a resume reads it: seen rows, frontier rows, filter bits."""
    return (
        sorted(tuple(r) for r in cat.read_committed("seen", 0).collect()),
        sorted(tuple(r) for r in cat.read_frontier(0).collect()),
        BroadcastBloom.load(bloom_prefix(cat, 0)).bits.tobytes(),
    )


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="module")
def uninterrupted(spark, crawl_root, tmp_path_factory):
    cat = _catalog(spark, crawl_root, str(tmp_path_factory.mktemp("boot_whole")))
    _bootstrap(cat)
    return _state(cat)


def _manifest_of(table: str):
    return lambda self, t, r, manifest: (t, r) == (table, 0)


def _fail_after(raw):
    """``stage_snapshot`` that fails once the snapshot's files exist."""

    def stage(self, df, table, round_no):
        raw(self, df, table, round_no)
        raise OSError("injected failure at snapshot_files")

    return stage


# boundary -> (owner, attribute, which call fails)
BOUNDARIES = {
    "seen_append": (Catalog, "append", lambda self, df, table, r: table == "seen"),
    "seen_manifest": (Catalog, "_write_manifest", _manifest_of("seen")),
    "filter_save": (BroadcastBloom, "save", lambda self, prefix: prefix.endswith("/0")),
    "frontier_manifest": (Catalog, "_write_manifest", _manifest_of("frontier")),
}


@pytest.mark.parametrize("boundary", [*BOUNDARIES, "snapshot_files"])
def test_failed_bootstrap_leaves_round_0_uncommitted(
    spark, crawl_root, tmp_path, monkeypatch, uninterrupted, boundary
):
    cat = _catalog(spark, crawl_root, str(tmp_path))
    if boundary == "snapshot_files":
        monkeypatch.setattr(
            Catalog, "stage_snapshot", _fail_after(Catalog.stage_snapshot)
        )
    else:
        owner, name, fails = BOUNDARIES[boundary]
        raw = getattr(owner, name)

        def failing(*args, **kwargs):
            if fails(*args, **kwargs):
                raise OSError(f"injected failure at {boundary}")
            return raw(*args, **kwargs)

        monkeypatch.setattr(owner, name, failing)
    pools_before = {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}
    with pytest.raises(OSError, match=f"injected failure at {boundary}"):
        _bootstrap(cat)
    monkeypatch.undo()
    # the snapshot worker has finished and round 0 is not committed
    pools_after = {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}
    assert not {t for t in pools_after - pools_before if t.is_alive()}
    assert cat.latest_round("frontier") is None

    again = Catalog(spark, cat.root)
    _bootstrap(again)
    assert again.latest_round("frontier") == 0
    assert _state(again) == uninterrupted


def test_frontier_manifest_0_is_written_last(spark, crawl_root, tmp_path, monkeypatch):
    """Every other write of bootstrap has finished when frontier
    manifest 0 starts: the seen append, the seen manifest, the filter
    save and the snapshot's files (staged on the worker thread)."""
    cat = _catalog(spark, crawl_root, str(tmp_path))
    events: list[tuple[str, str]] = []
    lock = threading.Lock()

    def record(owner, name, label_of):
        raw = getattr(owner, name)

        def wrapper(*args, **kwargs):
            label = label_of(*args)
            with lock:
                events.append(("start", label))
            out = raw(*args, **kwargs)
            with lock:
                events.append(("end", label))
            return out

        monkeypatch.setattr(owner, name, wrapper)

    record(Catalog, "append", lambda self, df, table, r: f"append.{table}")
    record(Catalog, "stage_snapshot", lambda self, df, table, r: f"snapshot.{table}")
    record(Catalog, "_write_manifest", lambda self, table, r, m: f"manifest.{table}")
    record(BroadcastBloom, "save", lambda self, prefix: "filter")
    _bootstrap(cat)

    assert events[-2:] == [("start", "manifest.frontier"), ("end", "manifest.frontier")]
    ended = {label for kind, label in events[:-2] if kind == "end"}
    assert ended == {"append.seen", "manifest.seen", "filter", "snapshot.frontier"}
    # the file on disk agrees: no file of the catalog is newer
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(cat.root)
        if os.path.relpath(d, cat.root).split(os.sep)[0] not in INPUTS
        for f in fs
    ]
    newest = max(os.stat(p).st_mtime_ns for p in files)
    assert os.stat(f"{cat.root}/frontier/_manifests/0.json").st_mtime_ns == newest


def test_bootstrap_job_count(spark, crawl_root, tmp_path):
    """Pins the Spark jobs one bootstrap submits on the tier-1 inputs,
    counted in its job group (the snapshot worker inherits the group).
    Before the declared input reads, footer lineage and the overlapped
    snapshot, the same bootstrap ran 14."""
    cat = _catalog(spark, crawl_root, str(tmp_path))
    assert _jobs_in_group(spark, "test-bootstrap-jobs", lambda: _bootstrap(cat)) == BOOTSTRAP_JOBS


def test_read_input_submits_no_jobs(spark, crawl_root, tmp_path):
    cat = _catalog(spark, crawl_root, str(tmp_path))
    frames = {}

    def read():
        for name in INPUTS:
            frames[name] = cat.read_input(name)

    assert _jobs_in_group(spark, "test-read-input", read) == 0
    for name, df in frames.items():
        assert df.columns == INPUT_TABLES[name].fieldNames(), name


# input -> (a declared column, a type it must not have)
RETYPED = {
    "frontier_seed": ("state_round", pa.int64()),
    "seen_seed": ("url_hash", pa.string()),
    "host_budget": ("budget_per_round", pa.int64()),
    "robots": ("path_prefix", pa.binary()),
}


def _rewrite(crawl_root: str, root: str, name: str, mutate) -> None:
    """``root/name`` as one parquet file: the tier-1 input, mutated."""
    table = mutate(pq.read_table(f"{crawl_root}/{name}"))
    os.makedirs(f"{root}/{name}")
    pq.write_table(table, f"{root}/{name}/part-00000.parquet")


@pytest.mark.parametrize("name", INPUTS)
def test_read_input_rejects_missing_column(spark, crawl_root, tmp_path, name):
    column, _ = RETYPED[name]
    _rewrite(crawl_root, str(tmp_path), name, lambda t: t.drop_columns([column]))
    with pytest.raises(ValueError, match=f"{name}: column '{column}' is missing"):
        Catalog(spark, str(tmp_path)).read_input(name)


@pytest.mark.parametrize("name", INPUTS)
def test_read_input_rejects_retyped_column(spark, crawl_root, tmp_path, name):
    column, bad = RETYPED[name]

    def retype(t: pa.Table) -> pa.Table:
        i = t.schema.get_field_index(column)
        values = t.column(column).to_pylist()
        if pa.types.is_binary(bad):
            values = [v.encode() for v in values]
        elif pa.types.is_string(bad):
            values = [str(v) for v in values]
        return t.set_column(i, column, pa.array(values, bad))

    _rewrite(crawl_root, str(tmp_path), name, retype)
    with pytest.raises(ValueError, match=f"{name}: column '{column}' is "):
        Catalog(spark, str(tmp_path)).read_input(name)


def test_read_input_without_files_raises(spark, tmp_path):
    os.makedirs(tmp_path / "robots")
    with pytest.raises(FileNotFoundError, match="robots"):
        Catalog(spark, str(tmp_path)).read_input("robots")
    with pytest.raises(KeyError, match="robots_copy"):
        Catalog(spark, str(tmp_path)).read_input("robots_copy")

