"""The round's plan never reads the URL string (README "Narrow ranking
rows"): robots gating reads ``FRONTIER.path``, decomposed once at
admission, and no scan under the plan has ``url`` in its read schema.
``url_hash`` does not count."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from twawler_spark.io_catalog import Catalog
from twawler_spark.plans.round import (
    bootstrap,
    build_two_phase_plan,
    read_frontier,
    round_now_epoch,
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
    frontier = read_frontier(cat, 1)
    active = frontier.where(F.col("state") == "active")
    host_stats = active.groupBy("host").agg(F.count(F.lit(1)).alias("n_urls"))
    plan = build_two_phase_plan(
        active, cat.read_input("robots"), cat.read_input("host_budget"),
        round_now_epoch(2), host_stats=host_stats,
    )
    schemas = _read_schemas(plan)
    # the snapshot scan, the frontier_v scans and the two inputs
    assert len(schemas) >= 4, schemas
    assert any("path" in fields for fields in schemas), schemas
    assert not any("url" in fields for fields in schemas), schemas
