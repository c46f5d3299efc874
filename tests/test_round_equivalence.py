"""Reference-equivalence: the distributed round pipeline must match the
sequential pure-Python simulator on the BASELINE.json correctness gates:

  * identical crawl ordering (composite key: round, host, fetch_rank)
  * identical final URL-seen set
  * per-row span-sequence equality (kind, text, media_ref, order)
"""

from __future__ import annotations

import shutil

import pytest

from twawler_spark import reference_sim
from twawler_spark.io_catalog import Catalog
from twawler_spark.plans.round import bootstrap, run_rounds

from .conftest import N_HOSTS

# 5 rounds: the matched run crosses the round-4 compaction boundary
# (COMPACT_EVERY=4 — ordering/seen/span/state equality must survive the
# snapshot rewrite + history expiry) AND the TTL revival horizon
# (REVIVE_TTL_ROUNDS=3 — suspended/protected rows set in early rounds
# revive inside the compared window)
N_ROUNDS = 5


@pytest.fixture(scope="module")
def run(spark, crawl_root, tmp_path_factory):
    cat_root = str(tmp_path_factory.mktemp("cat"))
    cat = Catalog(spark, cat_root)
    for name in ("frontier_seed", "seen_seed", "host_budget", "robots"):
        spark.read.parquet(f"{crawl_root}/{name}").write.parquet(f"{cat_root}/{name}")
    bootstrap(cat, cat.read_input("frontier_seed"), cat.read_input("seen_seed"))
    stats = run_rounds(cat, N_ROUNDS, n_hosts=N_HOSTS)
    sim = reference_sim.run(crawl_root, N_ROUNDS, n_hosts=N_HOSTS)
    return cat, stats, sim


def test_crawl_ordering_identical(run):
    cat, _, sim = run
    spark_order = {
        (r["round"], r["host"], r["phase"], r["fetch_rank"]): r["url_hash"]
        for r in cat.read_committed("crawl_order", N_ROUNDS).collect()
    }
    sim_order = {(r, h, p, k): uh for (r, h, p, k, uh) in sim.crawl_order}
    assert spark_order == sim_order
    assert len(spark_order) > 100
    assert any(k[2] == "late" for k in sim_order)  # late phase exercised


def test_final_seen_set_identical(run):
    cat, _, sim = run
    spark_seen = {
        r["url_hash"]
        for r in cat.read_committed("seen", N_ROUNDS).select("url_hash").distinct().collect()
    }
    assert spark_seen == sim.seen


def test_span_sequences_identical(run):
    cat, _, sim = run
    docs = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in cat.read_committed("documents", N_ROUNDS).collect()
    }
    assert len(docs) == len(sim.documents) > 500
    for doc_id, spans in docs.items():
        assert spans == sim.documents[doc_id], doc_id
        offsets = [o for (_, _, _, o) in spans]
        assert offsets == sorted(set(offsets))  # strictly increasing


def test_follow_edges_match(run):
    """Edge-expansion table (S5/S6 analog) equals the simulator's."""
    cat, _, sim = run
    spark_edges = {
        (r["src_hash"], r["dst_hash"])
        for r in cat.read_committed("follow_edges", N_ROUNDS).collect()
    }
    assert spark_edges == sim.edges
    assert len(spark_edges) > 100


def test_round_stats_match(run):
    _, stats, sim = run
    for st, ss in zip(stats, sim.stats):
        assert st.n_scheduled == ss["n_scheduled"]
        assert st.n_docs == ss["n_docs"]
        assert st.n_candidates == ss["n_candidates"]
        assert st.n_admitted == ss["n_admitted"]
        assert st.n_dead == ss["n_dead"]
        assert st.n_frontier == ss["n_frontier"]


def test_frontier_states_match(run):
    cat, _, sim = run
    spark_states = {
        r["url_hash"]: r["state"]
        for r in cat.read_frontier(N_ROUNDS).select("url_hash", "state").collect()
    }
    assert spark_states == sim.frontier_states


def test_checkpoints_match(run):
    """Forward (last_id) and backfill (first_id/reached) checkpoints —
    dumpall.py:83-87 + load-past.py:69-77 semantics."""
    cat, _, sim = run
    spark_cp = {
        r["url_hash"]: (r["last_id"], r["first_id"], r["reached"])
        for r in cat.read_frontier(N_ROUNDS)
        .select("url_hash", "last_id", "first_id", "reached")
        .collect()
    }
    sim_cp = {
        uh: (row["last_id"], row["first_id"], row["reached"])
        for uh, row in sim.frontier_rows.items()
    }
    assert spark_cp == sim_cp


def test_frontier_is_subset_of_seen(run):
    """Bootstrap puts every frontier key into seen and admission adds
    each new key to both tables, so no frontier row survives an
    anti-join with seen — across compaction and TTL revival. This is
    why the round admits only outlinks and never dedups the whole
    frontier against seen."""
    cat, _, _ = run
    frontier = cat.read_frontier(N_ROUNDS).select("url_hash")
    seen = cat.read_committed("seen", N_ROUNDS).select("url_hash")
    assert frontier.count() > 100
    assert frontier.join(seen, "url_hash", "left_anti").collect() == []


def test_plan_invariant_under_repartitioning(spark, crawl_root):
    """Determinism under parallelism: the scheduling plan is a pure
    function of the snapshot — any physical repartitioning of the input
    (different partition counts, different partitioners) must produce
    the identical plan row set, ranks included."""
    from pyspark.sql import functions as F

    from twawler_spark.plans.round import build_two_phase_plan
    from twawler_spark.synth import NOW_EPOCH

    frontier = spark.read.parquet(f"{crawl_root}/frontier_seed")
    budgets = spark.read.parquet(f"{crawl_root}/host_budget")
    robots = spark.read.parquet(f"{crawl_root}/robots")

    def plan_rows(active):
        plan = build_two_phase_plan(active, robots, budgets, NOW_EPOCH + 3600)
        return sorted(
            (r["url_hash"], r["host"], r["phase"], r["fetch_rank"])
            for r in plan.collect()
        )

    active = frontier.where(F.col("state") == "active")
    base = plan_rows(active)
    assert len(base) > 50
    assert base == plan_rows(active.repartition(3))
    assert base == plan_rows(active.repartition(17, "url_hash"))
    assert base == plan_rows(active.coalesce(1))


def test_null_first_id_rides_the_plan_intact(spark, crawl_root):
    """first_id is nullable: a NULL first_id must come out of the plan
    as NULL, and the non-null `reached` next to it must come out
    unchanged (a lost `reached` would be coerced to False by
    fetch_results, which would then resume backfill past an exhausted
    floor). Both ride the per-host cut and the ranking exchange as
    plain columns."""
    from pyspark.sql import functions as F

    from twawler_spark.plans.round import build_two_phase_plan
    from twawler_spark.synth import NOW_EPOCH

    frontier = spark.read.parquet(f"{crawl_root}/frontier_seed")
    budgets = spark.read.parquet(f"{crawl_root}/host_budget")
    robots = spark.read.parquet(f"{crawl_root}/robots")
    nulled = F.col("url_hash") % 5 == 0
    active = (
        frontier.where(F.col("state") == "active")
        .withColumn("first_id", F.when(~nulled, F.col("first_id")))
        .withColumn("reached", F.when(nulled, F.lit(True)).otherwise(F.col("reached")))
    )
    plan = build_two_phase_plan(active, robots, budgets, NOW_EPOCH + 3600)
    rows = plan.select("url_hash", "first_id", "reached").collect()
    null_rows = [r for r in rows if r["url_hash"] % 5 == 0]
    assert null_rows, "expected some null-first_id rows to be scheduled"
    assert all(r["first_id"] is None for r in null_rows)
    assert all(r["reached"] is True for r in null_rows)
    other = [r for r in rows if r["url_hash"] % 5 != 0]
    assert all(r["first_id"] is not None for r in other)


@pytest.mark.parametrize("case", ["missing_host", "null_budget"])
def test_missing_budget_host_fails_fast(spark, crawl_root, case):
    """A frontier host absent from the budgets dim must raise, not
    silently drop out of the rank filters with a NULL budget. A host
    whose budget_per_round is NULL must raise too: the planner has no
    default budget to give it."""
    from pyspark.sql import functions as F

    from twawler_spark.plans.round import build_two_phase_plan
    from twawler_spark.synth import NOW_EPOCH

    frontier = spark.read.parquet(f"{crawl_root}/frontier_seed")
    robots = spark.read.parquet(f"{crawl_root}/robots")
    budgets = spark.read.parquet(f"{crawl_root}/host_budget")
    one_host = budgets.select("host").first()["host"]
    if case == "missing_host":
        holey = budgets.where(F.col("host") != one_host)
        match = "missing from budgets dim"
    else:
        holey = budgets.withColumn(
            "budget_per_round",
            F.when(F.col("host") != one_host, F.col("budget_per_round")),
        )
        match = "NULL budget_per_round"
    active = frontier.where(F.col("state") == "active")
    plan = build_two_phase_plan(active, robots, holey, NOW_EPOCH + 3600)
    with pytest.raises(Exception, match=match):
        plan.collect()


@pytest.mark.parametrize("case", ["missing_host", "null_budget"])
def test_sim_missing_budget_host_fails_fast(spark, crawl_root, tmp_path, case):
    """The oracle keeps the planner's budget contract: a frontier host
    missing from ``host_budget``, or with a NULL budget, raises; there
    is no default budget."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "inputs")
    for name in ("frontier_seed", "seen_seed", "robots"):
        shutil.copytree(f"{crawl_root}/{name}", f"{root}/{name}")
    budgets = spark.read.parquet(f"{crawl_root}/host_budget")
    one_host = budgets.select("host").first()["host"]
    if case == "missing_host":
        holey = budgets.where(F.col("host") != one_host)
        error, match = KeyError, one_host
    else:
        holey = budgets.withColumn(
            "budget_per_round",
            F.when(F.col("host") != one_host, F.col("budget_per_round")),
        )
        error, match = ValueError, "NULL budget_per_round"
    holey.write.parquet(f"{root}/host_budget")
    with pytest.raises(error, match=match):
        reference_sim.run(root, 1, n_hosts=N_HOSTS)
