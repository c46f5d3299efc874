"""One scheduling round — the flagship batch job.

Rebuild of the reference's 4-phase crawl cycle
(scripts/crawl-tweets.sh:37-160): score -> schedule under per-host
budget -> fetch -> classify/transition -> discover/admit, as ONE Spark
batch over snapshot tables. Plan shape per round (main thread = M,
worker threads = W; W writes overlap the M steps after them):

  frontier snapshot (scan, pruned)           [parquet min-max on state]
    -> score                                  [column exprs, codegen]
    -> robots gate                            [broadcast join + exists()]
    -> per-host top-K of each partition       [Arrow pass, no exchange]
    -> per-host budget rank                   [ONE exchange, on host]
    -> plan checkpoint                     M
       -> crawl_order append               W
    -> fetch: status, docs, outlinks          [ONE Arrow pass, no exchange,
                                               ≤ Σbudgets rows, checkpointed] M
       -> documents, follow_edges appends  W  [JVM projections of the fetch
                                               checkpoint]
    -> outlink discovery -> seen filter       [persisted broadcast bloom probe
                                               + scan-only confirm] M
       -> state MERGE -> frontier_v append W  [broadcast join]
       -> seen append + filter update      M  [seen: admitted ∪ 404 keys; filter:
                                               admitted keys, in memory]
    -> barrier, then commit: seen manifest, filter save, frontier manifest
       (+ RoundStats; a snapshot every COMPACT_EVERY rounds)

Per-round counters ride Observations on the round's own writes and
eager checkpoints — zero standalone count() jobs (the r1 scaling fix).

State machine (reference utils.py:351-446 set-mutation protocol):
  404 -> dead: row leaves the frontier, url_hash joins ``seen`` as
  'dead' (bury, utils.py:430-446). 403/429 -> protected/suspended with
  TTL revival after REVIVE_TTL_ROUNDS (utils.py:369-412 self-expiring
  checks). 200 -> checkpoint advance (dumpall.py:83-87).
"""

from __future__ import annotations

import glob
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..io_catalog import Catalog
from ..operators.admission import admit, gate_robots
from ..operators.scoring import score
from ..operators.seen_filter import BroadcastBloom
from ..schemas import FRONTIER
from ..synth import NOW_EPOCH
from .fetcher import documents_of, fetch, outlinks_of, results_of

REVIVE_TTL_ROUNDS = 3
ROUND_SECONDS = 3600
BLOOM_REBUILD_FACTOR = 4


def _count_obs() -> tuple[Observation, F.Column]:
    return Observation(), F.count(F.lit(1)).alias("n")


def bloom_prefix(catalog: Catalog, round_no: int) -> str:
    return f"{catalog.root}/bloom/{round_no}"


def round_now_epoch(round_no: int) -> int:
    return NOW_EPOCH + round_no * ROUND_SECONDS


@dataclass
class RoundStats:
    round: int
    n_active: int
    n_scheduled: int
    n_docs: int
    n_candidates: int
    n_admitted: int
    n_dead: int
    n_frontier: int
    n_seen: int


COMPACT_EVERY = 4  # frontier compaction cadence (rounds)


def expire_frontier_history(catalog: Catalog) -> list[int]:
    """Expire every committed frontier round below the latest compaction
    (``Catalog.frontier_history``), oldest first: first the files the
    round owns (its seen-filter files; a resume loads only the latest
    committed round's filter), then the catalog's part of the round
    (``Catalog.expire_frontier_round``), which removes the round's
    frontier manifest last. A kill at any step leaves that manifest in
    place, so the next call finishes the round."""
    expired = catalog.frontier_history()
    for r in expired:
        for path in glob.glob(bloom_prefix(catalog, r) + ".*"):
            os.remove(path)
        catalog.expire_frontier_round(r)
    return expired


def bootstrap(
    catalog: Catalog,
    frontier_seed: DataFrame,
    seen_seed: DataFrame,
) -> None:
    """Round-0 state: seen = seed sets ∪ all tracked frontier keys;
    frontier rows already in a seed set are not tracked (can_follow).

    The persisted seen-filter is built HERE, once, from the full set
    (per-bucket build + treeAggregate merge); every later round
    only ORs in its delta — never an O(|seen|) rebuild.

    Overlap and commit order: the frontier snapshot depends on neither
    the seen append nor the filter, so a worker thread stages its files
    (``Catalog.stage_snapshot``, lineage from the parquet footers) while
    the main thread appends seen, commits the seen manifest, builds the
    filter and saves it. Both finish (or raise) before frontier
    manifest 0, the last file written, commits the round: a failure at
    any step leaves round 0 uncommitted with no write still running,
    and bootstrapping the same root again overwrites every file."""
    # a left anti join ignores duplicate keys: no distinct() shuffle
    fresh = frontier_seed.join(seen_seed.select("url_hash"), "url_hash", "left_anti")
    # rows already in a terminal state belong in the sets, not the frontier
    # (cemetery/ignored are separate collections in the reference)
    frontier0 = fresh.where(~F.col("state").isin("dead", "ignored"))
    seen0 = seen_seed.unionByName(
        fresh.select(
            "url_hash",
            F.when(F.col("state").isin("dead", "ignored"), F.col("state"))
            .otherwise(F.lit("tracked"))
            .alias("set_name"),
            F.lit(0).alias("added_round"),
        )
    )
    with ThreadPoolExecutor(max_workers=1) as pool:
        # carry the job group, description and tags to the worker
        stage = inheritable_thread_target(catalog.spark)(catalog.stage_snapshot)
        staged = pool.submit(stage, frontier0, "frontier", 0)
        obs, n = _count_obs()
        catalog.append(seen0.observe(obs, n), "seen", 0)
        n_seen = int(obs.get["n"])
        catalog.commit_round("seen", 0, n_seen)
        bloom = BroadcastBloom.build(
            catalog.read_committed("seen", 0).select("url_hash"), n_keys=n_seen
        )
        bloom.save(bloom_prefix(catalog, 0))
        frontier_manifest = staged.result()
    catalog.commit_snapshot(frontier_manifest)


def _desc_keys(col: pa.ChunkedArray) -> list[np.ndarray]:
    """``np.lexsort`` keys, least significant first, that order a double
    column as Spark orders it DESC: NaN first, then the values from
    largest to smallest, then NULL."""
    null = col.is_null().to_numpy()
    v = pc.fill_null(col, 0.0).to_numpy()
    nan = np.isnan(v)
    return [-np.where(nan, 0.0, v), ~nan, null]


def host_top_k_keep(table: pa.Table) -> np.ndarray:
    """Row mask of each host's top ``__b`` rows by (expected DESC,
    url_hash ASC) and top ``__b + __b2`` rows by (hours_idle DESC,
    url_hash ASC) within ``table``: at most 2·__b + __b2 rows per host.
    Both orders are the plan's window orders and total (``url_hash`` is
    unique), so every row of ``table`` that is among its host's top
    rows over a larger set of rows is among them here, and is kept."""
    host = pc.dictionary_encode(table.column("host").combine_chunks()).indices.to_numpy()
    uh = table.column("url_hash").to_numpy()
    b = table.column("__b").to_numpy()
    keep = np.zeros(len(uh), dtype=bool)
    for key, bound in (("expected", b), ("hours_idle", b + table.column("__b2").to_numpy())):
        order = np.lexsort([uh, *_desc_keys(table.column(key)), host])
        grouped = host[order]
        rank = np.arange(len(order)) - np.searchsorted(grouped, grouped)
        keep[order[rank < bound[order]]] = True
    return keep


def host_top_k(ranked: DataFrame) -> DataFrame:
    """Each input partition cut to ``host_top_k_keep``'s rows, in one
    Arrow pass with no exchange. The mask is computed over the whole
    partition, not batch by batch: per-batch cuts would keep up to
    2·__b + __b2 rows per host from every Arrow batch."""

    def run(batches):
        batches = list(batches)
        if batches:
            table = pa.Table.from_batches(batches)
            yield from table.filter(host_top_k_keep(table)).to_batches()

    return ranked.mapInArrow(run, ranked.schema)


def build_two_phase_plan(
    active: DataFrame, robots: DataFrame, budgets: DataFrame, now: int
) -> DataFrame:
    """The per-round scheduling plan (crawl-tweets.sh phases 1+2):
    score → robots gate → per-host budget rank by ``expected`` (phase 1),
    then the leftover ranked by staleness at half budget (--crawl-late).

    Input contract:
      ``active``: frontier rows to rank, with FRONTIER's ``url_hash``,
        ``host``, ``path``, ``last_id``, ``first_id``, ``reached``,
        ``rate_tph`` and ``latest_ts`` columns;
      ``robots``: (host, rule, path_prefix) rules for ``gate_robots``;
      ``budgets``: (host, budget_per_round) with a non-NULL budget for
        every host in ``active`` — phase 1 takes up to B rows per host,
        the late phase up to max(B // 2, 1). A host missing from
        ``budgets``, or with a NULL budget, raises when the plan runs:
        there is no default budget.

    Shuffle discipline (the 100 TB shape): ONE exchange touches the
    candidate set, on ``host``. Ahead of it, ``host_top_k`` cuts every
    input partition to each host's top B rows by ``expected`` and top
    B + B_late rows by staleness (the +B covers late winners displaced
    by phase-1 picks), so at most P·(2B + B_late) rows of a host enter
    the exchange from P input partitions, however hot the host is. Each
    order is total (``url_hash`` is unique), so a host's top rows over
    the whole frontier are among its top rows in the partition that
    holds them, and the plan is the one an uncut ranking gives. After
    the exchange, phase-1 = expected-rank <= B; the late pool is a
    FILTER (not an anti-join — no url_hash re-shuffle of the full set)
    and its staleness window reuses the same partitioning. Tie-breaks
    are (order DESC, url_hash ASC) throughout, keeping the plan a
    deterministic function of the snapshot.

    The URL string itself stays OUT of the ranking pipeline (it is the
    widest column and no plan consumer needs it — the fetch stage keys
    on url_hash/host; a production fetcher resolves the string by
    joining the tiny plan back to the frontier on url_hash). Robots
    gating reads the ``path`` column, decomposed once at admission, so
    the plan never reads ``url``.

    The ranking rows carry the frontier's own columns: the exchange
    partitions on ``host``, and ``first_id``/``reached`` ride it as
    they are (no ranking consumer reads them). Budgets join by ``host``
    in one broadcast join; no window in the plan lacks a partition key,
    so none runs on a single partition.
    """
    # FRONTIER.path: decomposed once at admission — the scan never
    # reads the wide url column at all (biggest column in the table)
    scored = score(
        active.select("url_hash", "host", "last_id", "first_id", "reached",
                      "rate_tph", "latest_ts", F.col("path").alias("__path")),
        now,
    )
    # rate_tph/latest_ts are consumed by score(); __path by the robots
    # gate — none of them may ride the ranking exchange and sorts.
    gated = gate_robots(scored, robots, path_col="__path").drop(
        "__path", "rate_tph", "latest_ts"
    )

    def fail(what: str) -> F.Column:
        return F.raise_error(F.concat(
            F.lit("build_two_phase_plan: frontier host '"), F.col("host"), F.lit(what),
        ))

    # budgets must give every frontier host a budget — a missing host or
    # a NULL budget would leave __b NULL and silently drop the host's
    # rows from the rank filters. Fail fast instead: the budget column
    # raises on the first unmatched or unbudgeted row (CASE branches
    # are tried in order; __known tells a missing host from a NULL
    # budget), in the JVM, before any row reaches host_top_k.
    known = budgets.select("host", "budget_per_round", F.lit(True).alias("__known"))
    wb = (
        gated.join(F.broadcast(known), "host", "left")
        .withColumn(
            "__b",
            F.when(F.col("__known").isNull(), fail("' missing from budgets dim"))
            .when(F.col("budget_per_round").isNull(), fail("' has a NULL budget_per_round"))
            .otherwise(F.col("budget_per_round")),
        )
        .withColumn("__b2", F.greatest(F.floor(F.col("__b") / 2), F.lit(1)).cast("int"))
        .drop("budget_per_round", "__known")
    )
    order_e = [F.col("expected").desc(), F.col("url_hash").asc()]
    order_h = [F.col("hours_idle").desc(), F.col("url_hash").asc()]
    pre = host_top_k(wb)
    # both phases in ONE pass — no union of filtered branches (a union
    # would duplicate the whole ranking subtree in the physical plan, so
    # the sorts and the exchange would run twice). Phase-2's rank among
    # NON-phase-1 rows comes from a mixed-order row_number (phase-1 rows
    # first) minus the host's phase-1 count — identical ordering
    # semantics, half the sort work.
    w_e = Window.partitionBy("host").orderBy(*order_e)
    ranked = pre.withColumn("__rank_e", F.row_number().over(w_e))
    is_p1 = F.col("__rank_e") <= F.col("__b")
    w_mixed = Window.partitionBy("host").orderBy(
        is_p1.cast("int").desc(), *order_h
    )
    w_host = Window.partitionBy("host").orderBy(
        is_p1.cast("int").desc(), *order_h
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    staged = (
        ranked.withColumn("__rn_mixed", F.row_number().over(w_mixed))
        .withColumn("__n_p1", F.sum(is_p1.cast("int")).over(w_host))
        .withColumn("__rank_h", F.col("__rn_mixed") - F.col("__n_p1"))
    )
    out = staged.where(is_p1 | (F.col("__rank_h") <= F.col("__b2")))
    return out.select(
        "url_hash", "host", "last_id", "first_id", "reached", "expected", "hours_idle",
        F.when(is_p1, F.col("__rank_e")).otherwise(F.col("__rank_h")).alias("fetch_rank"),
        F.when(is_p1, F.lit("expected")).otherwise(F.lit("late")).alias("phase"),
    )


def merge_fetch_results(
    frontier: DataFrame, results: DataFrame, round_no: int, now: int
) -> DataFrame:
    """State MERGE (reference utils.py:351-446 set-mutation protocol):
    apply per-URL fetch outcomes to the frontier — status-driven state
    transitions (404→dead, 403→protected, 429→suspended), checkpoint
    advances (dumpall.py:83-87 last_id; load-past.py:69-77
    first_id/reached) and the latest_ts touch on success. Unscheduled
    rows pass through unchanged (status NULL). ``run_round`` and the
    ``crawl_round_states`` driver-contract query
    (``crawl_queries.q_crawl_round_states``) both call it, so that
    query's DuckDB oracle checks the engine's own MERGE."""
    res = F.broadcast(
        results.select("url_hash", "status", "new_last_id", "new_first_id", "new_reached")
    )
    return (
        frontier.join(res, "url_hash", "left")
        .withColumn(
            "state",
            F.when(F.col("status") == 404, "dead")
            .when(F.col("status") == 403, "protected")
            .when(F.col("status") == 429, "suspended")
            .otherwise(F.col("state")),
        )
        .withColumn(
            "state_round",
            F.when(
                F.col("status").isNotNull() & (F.col("status") != 200), F.lit(round_no)
            ).otherwise(F.col("state_round")),
        )
        .withColumn(
            "last_id", F.coalesce(F.col("new_last_id"), F.col("last_id"))
        )
        .withColumn(
            "first_id", F.coalesce(F.col("new_first_id"), F.col("first_id"))
        )
        .withColumn(
            "reached", F.coalesce(F.col("new_reached"), F.col("reached"))
        )
        .withColumn(
            "latest_ts",
            F.when(F.col("status") == 200, F.timestamp_seconds(F.lit(now))).otherwise(
                F.col("latest_ts")
            ),
        )
    )


def run_round(catalog: Catalog, round_no: int, n_hosts: int) -> RoundStats:
    """One scheduling round.

    Driver-action discipline (the scaling-efficiency fix): every counter
    rides an ``Observation`` on a job the round runs ANYWAY (a write or
    an eager checkpoint) — no standalone ``count()`` jobs, and no
    re-reads of the round's own writes outside the compaction snapshot
    and a filter rebuild: the dead keys and the seen-filter delta come
    from the fetch and admit checkpoints. The seen-filter is LOADED from
    the catalog (persisted at bootstrap) and updated with this round's
    delta only — never rebuilt from the full seen-set.

    Overlap: the writes run as a dependency graph, not a sequence. The
    crawl_order, documents and follow_edges appends read only the plan
    and fetch checkpoints, so worker threads run them as soon as those
    exist, while the main thread fetches and checkpoints the candidates
    and the admitted keys; the frontier_v merge then runs on a worker
    next to the seen append. Spark schedules the concurrent jobs on the
    shared executors. The Python UDF work (fetch, bloom probe) and the
    four checkpoints stay on the main thread, in order: plan, fetch,
    candidates, admitted.

    Commit barrier: every write finishes (or raises) before the seen
    manifest, the filter save and the frontier manifest, in that order.
    A failed write therefore leaves the round uncommitted, and no write
    is still running when the call returns or raises.
    """
    spark = catalog.spark
    now = round_now_epoch(round_no)
    frontier = catalog.read_frontier(round_no - 1)
    seen = catalog.read_committed("seen", round_no - 1)
    budgets = catalog.read_input("host_budget")
    robots = catalog.read_input("robots")

    # TTL revival (protected/suspended re-checks, utils.py:369-412) —
    # flagged so revived-but-unscheduled rows still persist as deltas
    revive_cond = F.col("state").isin("suspended", "protected") & (
        F.lit(round_no) - F.col("state_round") >= REVIVE_TTL_ROUNDS
    )
    frontier = frontier.withColumn("__revived", revive_cond).withColumn(
        "state", F.when(revive_cond, "active").otherwise(F.col("state"))
    )

    obs_active, n_a = _count_obs()
    active = frontier.where(F.col("state") == "active").observe(obs_active, n_a)
    obs_plan, n_p = _count_obs()
    plan = build_two_phase_plan(active, robots, budgets, now)
    # one job materializes the plan AND surfaces both counters
    plan = plan.observe(obs_plan, n_p).localCheckpoint(eager=True)
    n_active = int(obs_active.get["n"])
    n_scheduled = int(obs_plan.get["n"])

    # writes go to workers as soon as their checkpoints exist; leaving
    # the block waits for every write, and .result() raises before any
    # commit (see the docstring)
    with ThreadPoolExecutor(max_workers=4) as pool:

        def write(df: DataFrame, table: str):
            # carry the job group, description and tags to the worker
            task = inheritable_thread_target(spark)(catalog.append)
            return pool.submit(task, df, table, round_no)

        # crawl-order lineage (golden for ordering-equality tests)
        writes = [
            write(
                plan.select("url_hash", "host", "phase", "expected", "fetch_rank"),
                "crawl_order",
            )
        ]

        # --------------------------------------------------------- fetch
        # one Arrow pass computes status, documents and outlinks per plan
        # URL; documents, results and links below are JVM-only
        # projections of this checkpoint, so the Python fetch runs once
        fetched = fetch(plan, round_no, n_hosts).localCheckpoint(eager=True)
        results = results_of(fetched)
        obs_docs, n_d = _count_obs()
        writes.append(write(
            documents_of(fetched, round_no).dropDuplicates(["doc_id"]).observe(obs_docs, n_d),
            "documents",
        ))
        links = outlinks_of(fetched).withColumn("url_hash", F.xxhash64(F.col("url")))
        # follow-edge table (addfollowers.py:39 shape: follower -> followee)
        writes.append(write(
            links.select(F.col("src_hash"), F.col("url_hash").alias("dst_hash"))
            .dropDuplicates(["src_hash", "dst_hash"])
            .withColumn("discovered_round", F.lit(round_no)),
            "follow_edges",
        ))

        # ---------------------------------------------- discovery + admit
        obs_cands, n_c = _count_obs()
        # checkpoint: the dedup shuffle runs once, not once per consumer
        # (the admit plan references candidates in two branches)
        cands = (
            links.dropDuplicates(["url_hash"])  # within-round dedup
            .observe(obs_cands, n_c)
            .localCheckpoint(eager=True)
        )
        n_candidates = int(obs_cands.get["n"])
        bloom = BroadcastBloom.load(bloom_prefix(catalog, round_no - 1))
        obs_adm, n_ad = _count_obs()
        admitted = (
            admit(cands, seen, bloom=bloom).observe(obs_adm, n_ad).localCheckpoint(eager=True)
        )
        n_admitted = int(obs_adm.get["n"])

        new_rows = admitted.select(
            "url",
            "url_hash",
            F.regexp_extract("url", r"^https://([^/]+)/", 1).alias("host"),
            # decompose once at admission; every later round reads only this
            F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/")).alias("path"),
            F.lit("active").alias("state"),
            F.lit(round_no).alias("state_round"),
            F.lit(0).cast("long").alias("last_id"),
            F.lit(0).cast("long").alias("first_id"),
            F.lit(False).alias("reached"),
            F.timestamp_seconds(F.lit(now)).alias("latest_ts"),
            F.timestamp_seconds(F.lit(now)).alias("earliest_ts"),
            F.lit(1.0).alias("rate_tph"),
            F.lit(round_no).alias("discovered_round"),
        )

        # ----------------------------------------------------- state MERGE
        merged = merge_fetch_results(frontier, results, round_no, now)
        changed = merged.where(F.col("status").isNotNull() | F.col("__revived"))
        delta = (
            changed.select(*[f.name for f in FRONTIER.fields])
            .withColumn(
                "op", F.when(F.col("state") == "dead", "delete").otherwise("upsert")
            )
            .unionByName(new_rows.withColumn("op", F.lit("upsert")))
        )
        writes.append(write(delta, "frontier_v"))

        # append-only seen delta: O(|delta|) per round, never a rewrite
        # of the full set (at the 10^10 design point that would
        # dominate). The dead keys are the fetch's 404s: the merge is
        # the only source of 'dead' and a frontier view never holds dead
        # rows, so these are exactly the delta's op='delete' rows.
        dead_keys = results.where(F.col("status") == 404).select("url_hash")
        seen_delta = admitted.select(
            "url_hash", F.lit("tracked").alias("set_name"), F.lit(round_no).alias("added_round")
        ).unionByName(
            dead_keys.select(
                "url_hash", F.lit("dead").alias("set_name"), F.lit(round_no).alias("added_round")
            )
        )
        obs_dead = Observation()
        catalog.append(
            seen_delta.observe(
                obs_dead,
                F.sum(F.when(F.col("set_name") == "dead", 1).otherwise(0)).alias("n_dead"),
            ),
            "seen",
            round_no,
        )
        n_dead = int(obs_dead.get["n_dead"] or 0)
        # OR the admitted keys into the filter (in memory; saved below).
        # The dead keys were tracked, so their bits are set already
        bloom.update(admitted, n_delta=n_admitted)
        for w in writes:
            w.result()
    n_docs = int(obs_docs.get["n"])

    # ---------------------------------------------------------- commit
    # seen counts keys: a dead key re-enters seen as a row, not a key
    n_seen = catalog.read_manifest("seen", round_no - 1)["n_rows"] + n_admitted
    catalog.commit_round("seen", round_no, n_seen)

    # persist the updated seen-filter. Idempotent under crash-replay
    # (set-OR), saved BEFORE the frontier manifest so every committed
    # round has its filter.
    if bloom.needs_rebuild:
        bloom = BroadcastBloom.build(
            catalog.read_committed("seen", round_no).select("url_hash"),
            n_keys=bloom.n_keys,
            capacity=BLOOM_REBUILD_FACTOR * bloom.n_keys,
        )
    bloom.save(bloom_prefix(catalog, round_no))

    # manifest write = the round's COMMIT point, with its RoundStats;
    # compaction every K rounds bounds the delta chain. n_dead/n_admitted
    # already counted (localCheckpointed inputs), so nothing below
    # re-reads expired deltas.
    prev_n = catalog.read_manifest("frontier", round_no - 1)["n_rows"]
    stats = RoundStats(
        round=round_no,
        n_active=n_active,
        n_scheduled=n_scheduled,
        n_docs=n_docs,
        n_candidates=n_candidates,
        n_admitted=n_admitted,
        n_dead=n_dead,
        n_frontier=prev_n - n_dead + n_admitted,
        n_seen=n_seen,
    )
    if round_no % COMPACT_EVERY == 0:
        # a snapshot commits its own row count as n_frontier
        fm = catalog.write_snapshot(
            catalog.read_frontier(round_no), "frontier", round_no,
            stats=lambda n_rows: vars(replace(stats, n_frontier=n_rows)),
        )
        stats = RoundStats(**fm["stats"])
        expire_frontier_history(catalog)
    else:
        catalog.commit_round("frontier", round_no, stats.n_frontier, stats=vars(stats))
    return stats


def round_status(catalog: Catalog) -> dict:
    """Committed frontier rounds and the RoundStats committed with each
    (bootstrap round 0 has none; rounds expired by compaction take
    their stats with them)."""
    rounds = catalog.committed_rounds("frontier")
    manifests = [catalog.read_manifest("frontier", r) for r in rounds]
    return {
        "committed_rounds": rounds,
        "stats": [m["stats"] for m in manifests if "stats" in m],
    }


def run_rounds(catalog: Catalog, n_rounds: int, n_hosts: int) -> list[RoundStats]:
    """Run/resume rounds up to ``n_rounds`` from the latest committed
    snapshot (the reference's kill-safe restart, README Stopping).

    A round killed between its compaction snapshot and the end of
    ``expire_frontier_history`` is committed with its history still on
    disk. The expiry removes each expired round's frontier manifest
    after the round's other files, so every partly expired round is
    still listed, and the resume finishes the expiry first."""
    expire_frontier_history(catalog)
    start = (catalog.latest_round("frontier") or 0) + 1
    return [run_round(catalog, r, n_hosts) for r in range(start, n_rounds + 1)]
