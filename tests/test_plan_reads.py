"""The round's plan never reads the URL string (README "Narrow ranking
rows"): robots gating reads ``FRONTIER.path``, decomposed once at
admission, and no scan under the plan has ``url`` in its read schema.
``url_hash`` does not count. The plan ranks on the frontier's own
columns, so no exchange under it gathers to a single partition; the
frontier view runs one latest-delta window, and the round's plan
checkpoint scans the frontier snapshot once."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from twawler_spark.io_catalog import Catalog
from twawler_spark.plans.round import (
    bootstrap,
    build_two_phase_plan,
    round_now_epoch,
    run_round,
    run_rounds,
)

from .conftest import N_HOSTS


def _read_schemas(df) -> list[list[str]]:
    """Top-level field names of every scan's ReadSchema in the
    formatted physical plan."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return [
        re.findall(r"(?:<|,)(\w+):", m)
        for m in re.findall(r"ReadSchema: (struct<.*>)", buf.getvalue())
    ]


def test_round_plan_reads_no_url(spark, crawl_root, tmp_path):
    root = str(tmp_path)
    cat = Catalog(spark, root)
    for name in ("frontier_seed", "seen_seed", "host_budget", "robots"):
        spark.read.parquet(f"{crawl_root}/{name}").write.parquet(f"{root}/{name}")
    bootstrap(cat, cat.read_input("frontier_seed"), cat.read_input("seen_seed"))
    run_rounds(cat, 1, n_hosts=N_HOSTS)

    # round 2's plan, built as run_round builds it: the view over the
    # round-0 snapshot and the round-1 frontier_v deltas
    frontier = cat.read_frontier(1)
    active = frontier.where(F.col("state") == "active")
    plan = build_two_phase_plan(
        active, cat.read_input("robots"), cat.read_input("host_budget"),
        round_now_epoch(2),
    )
    schemas = _read_schemas(plan)
    # the snapshot scan, the frontier_v scans and the two inputs
    assert len(schemas) >= 4, schemas
    assert any("path" in fields for fields in schemas), schemas
    assert not any("url" in fields for fields in schemas), schemas


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def round1(spark, crawl_root, tmp_path_factory):
    """A catalog with round 1 committed over the round-0 snapshot."""
    root = str(tmp_path_factory.mktemp("round1"))
    cat = Catalog(spark, root)
    for name in ("frontier_seed", "seen_seed", "host_budget", "robots"):
        spark.read.parquet(f"{crawl_root}/{name}").write.parquet(f"{root}/{name}")
    bootstrap(cat, cat.read_input("frontier_seed"), cat.read_input("seen_seed"))
    run_rounds(cat, 1, n_hosts=N_HOSTS)
    return cat


def test_round_plan_has_no_single_partition_exchange(round1):
    """The ranking exchange partitions on ``host`` and budgets join by
    ``host``: no window without a partition key gathers the plan's rows
    (or the budgets) onto one partition."""
    cat = round1
    # round 2's plan, built as run_round builds it
    frontier = cat.read_frontier(1)
    active = frontier.where(F.col("state") == "active")
    plan = build_two_phase_plan(
        active, cat.read_input("robots"), cat.read_input("host_budget"),
        round_now_epoch(2),
    )
    text = _executed(plan)
    assert "Exchange hashpartitioning(host" in text, text
    assert "SinglePartition" not in text, text


def test_frontier_view_runs_one_window(round1):
    """The base anti-joins the raw delta keys; only the kept rows need
    the latest-delta window, so the view's plan holds exactly one."""
    text = _executed(round1.read_frontier(1))
    assert len(re.findall(r"\bWindow \[", text)) == 1, text


def test_plan_checkpoint_scans_the_frontier_once(round1, monkeypatch):
    """``run_round``'s plan checkpoint evaluates the frontier view once:
    its plan holds one scan of the frontier snapshot. The plan is read
    before it runs (AQE prunes empty branches from the executed plan),
    and the round stops there, uncommitted."""
    from pyspark.sql.classic.dataframe import DataFrame

    class PlanRead(Exception):
        pass

    plans = []

    def checkpoint(self, *args, **kwargs):
        plans.append(_executed(self))
        raise PlanRead

    monkeypatch.setattr(DataFrame, "localCheckpoint", checkpoint)
    with pytest.raises(PlanRead):
        run_round(round1, 2, N_HOSTS)
    assert round1.latest_round("frontier") == 1
    scans = re.findall(r"FileScan parquet [^\n]*/frontier/snap=", plans[0])
    assert len(scans) == 1, plans[0]
