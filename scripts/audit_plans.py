"""Plan audit: dump physical-plan properties for the headline queries
and the scheduling round — evidence that filters/pruning/codegen hold.

Writes PLANS.md: per query, the exchange count, pushed filters,
ReadSchema width, codegen coverage, and broadcast usage, plus the full
formatted plan for the flagship round.

Usage: python scripts/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT = (
    "crawl_budget_rank",
    "q1_pricing_summary",
    "q6_filter_agg",
    "j1_pair_selfjoin",
    "j3_revenue_per_segment",
    "j8_synchrotrap_full",
    "w5_running_max",
    "dedup_minhash_lsh",
    "dedup_jaccard",
    "ann_lsh_buckets",
    "f12_sentiment_cascade",
    "s8_favorites_stop",
    "text_quality",
    "user_vector",
    "user_vector_wide",
    "nightowls",
    "curation_user_dedup",
    "multimodal_decode",
    "crawl_round_plan",
    "crawl_round_docs",
    "crawl_round_states",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "dedup_clusters",
    "silent_clusters",
    "word_daily_series",
    "curation_aliases",
    "graph_bfs_ecc",
    "ann_pq_topk",
    "training_funnel",
    "token_budget_select",
    "gopher_repetition",
    "gopher_repetition_exploded",
    "word_pmi",
    "deleted_tweets_audit",
    "mentionedid_recovery",
    "list_common_favoriters",
    "multimodal_video",
    "line_dedup",
    "sequence_packing",
    "domain_mixture",
    "gopher_quality_full",
    "dedup_incremental",
    "crawl_round_pack",
    "frontier_pagerank",
    "dedup_exact_substring",
    "dsir_select",
    "ccnet_lm_buckets",
    "semdedup",
    "crawl_to_corpus",
    "media_phash_dedup",
    "sitemap_ingest",
    "robots_parse",
    "trap_detection",
    "host_adaptive_budget",
    "quality_classifier",
    "dedup_cdc",
    "recrawl_schedule",
    "warc_ingest",
    "boilerplate_strip",
    "dedup_containment",
    "graph_harmonic",
    "span_corruption",
    "inverted_index_export",
    "crawl_bfs_depth",
    "dust_rules",
    "bpe_merges",
    "graph_hits",
    "corpus_sample",
    "crawl_backlog",
    "dust_apply",
    "host_graph_rank",
    "ivf_balance",
    "word_bursts",
    "anchor_text",
    "interleaved_filter",
    "sitemap_coverage",
    "host_components",
    "url_blocklist",
    "opic_priority",
    "mirror_detect",
    "span_dedup",
    "dup_ngram_coverage",
    "weighted_sample",
    "winnow_fingerprint",
    "frontier_shard_balance",
    "fetcher_assignment",
    "redirect_resolve",
    "heavy_hitters",
    "soft404_detect",
    "repopulate_batches",
    "cattweet_lookup",
    "kcore_hosts",
    "host_latency_quantiles",
    "tld_lang_mismatch",
    "span_patterns",
    "politeness_audit",
    "snapshot_diff",
    "hll_distinct",
    "cms_freq",
    "hdr_quantiles",
    "hll_merge_rounds",
    "triangle_hosts",
    "hll_intersect",
    "host_ewma_latency",
    "embed_quantize",
    "kmeans_lloyd",
    "ucb_host_schedule",
    "lsh_s_curve",
    "degree_assortativity",
    "bloom_fpr_audit",
    "stratified_sample",
    "ball2_hosts",
    "span_transitions",
    "index_varint_estimate",
    "wl_host_hash",
    "ring_rebalance",
    "sched_fairness",
    "host_robustness",
    "vocab_growth",
    "priority_rank_corr",
    "topk_overlap_curve",
    "ucb_regret_audit",
    "bigram_branching",
    "link_reciprocity",
    "edge_support",
    "mixture_independence",
    "batch_drift",
    "join_size_estimate",
    "skyline_hosts",
    "seed_coverage_greedy",
    "timeout_sweep",
    "host_rate_shrunk",
    "modularity_audit",
    "source_overlap",
    "crawl_yield_curve",
    "burn_rate_alerts",
    "maxmin_budget_alloc",
    "link_prediction_features",
    "doc_novelty",
    "timing_regularity",
    "link_locality",
    "queue_backlog_lindley",
    "littles_law_audit",
    "weight_sweep_winners",
    "crawl_round2_delta",
    "span_budget_fit",
    "rank_normalize",
    "lsh_config_chooser",
    "span_position_profile",
    "alloc_gini",
    "column_stats_for_encoding",
    "retry_cost_forecast",
    "host_reputation",
    "ks_latency_drift",
    "rich_club",
    "metronome_roc",
    "host_rate_wilson",
    "random_percolation",
    "dedup_keeper_quality",
    "katz3_centrality",
    "page_stitch_detect",
    "theil_sen_slope",
    "equidepth_edges",
    "rate_policy_agreement",
    "export_manifest",
    "session_threshold_sweep",
    "p95_slo_conformance",
    "minhash_estimator_bias",
    "quality_novelty_quadrants",
    "arrival_seasonality",
    "storage_tiering",
    "failure_streaks",
    "postings_intersection",
    "median_ci_rank",
    "bm25_tf_exact",
    "bigram_hit_score",
    "anchor_content_agreement",
    "emd_latency_drift",
    "term_concentration",
    "timeout_retry_cost",
    "media_runs_test",
    "cost_per_doc",
    "id_gap_islands",
)


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _single_partition_audit(txt: str) -> tuple[int, int]:
    """(n_single_partition_exchanges, n_global_sort_windows).

    The second number flags the 100 TB scale-killer pattern: a Window
    or Sort sitting directly on an ``Exchange SinglePartition`` whose
    input is NOT already aggregated (a tiny chunk/aggregate list above
    a single-partition exchange is the sanctioned two-phase shape; a
    full-table one funnels every row through one task). Formatted
    plans name SinglePartition only in the details section, so ids are
    matched there and located in the tree."""
    sp_ids = re.findall(
        r"\((\d+)\) Exchange\nInput[^\n]*\nArguments: SinglePartition", txt
    )
    tree = txt.split("\n\n")[0].splitlines()

    def marker(line: str) -> int:
        p = max(line.find("+- "), line.find(":- "))
        return p if p >= 0 else -1

    flagged = 0
    for n in sp_ids:
        for i, line in enumerate(tree):
            if re.search(rf"\bExchange \({n}\)$", line):
                above = " ".join(tree[max(0, i - 2) : i])
                # the exchange's SUBTREE: following lines more deeply
                # indented than the exchange itself. A bounded input —
                # an aggregate, a window output, or a synthesized
                # Range — below the exchange makes this the sanctioned
                # tiny-list shape, not a full-table funnel.
                d = marker(line)
                sub = []
                for j in range(i + 1, len(tree)):
                    if 0 <= marker(tree[j]) <= d:
                        break
                    sub.append(tree[j])
                below = " ".join(sub)
                if re.search(r"Window|Sort \(", above) and not re.search(
                    r"Aggregate|Range|Window", below
                ):
                    flagged += 1
                break
    return len(sp_ids), flagged


def audit(name: str, txt: str) -> dict:
    n_sp, n_gsw = _single_partition_audit(txt)
    return {
        "name": name,
        "exchanges": len(re.findall(r"^\(\d+\) Exchange", txt, re.M)) - n_sp,
        "single_partition_windows": n_gsw,
        "broadcasts": len(re.findall(r"^\(\d+\) Broadcast(?:HashJoin|NestedLoopJoin)", txt, re.M)),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", txt))),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", txt)),
        "python_stages": len(
            re.findall(r"^\(\d+\) (?:ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas|MapInArrow|FlatMapCoGroupsInPandas)", txt, re.M)
        ),
        # \b excludes SortMergeJoin/SortAggregate operator names; only a
        # physical Sort node counts as a sort
        "sorts": len(re.findall(r"^\(\d+\) Sort\b", txt, re.M)),
        "reused_exchanges": len(re.findall(r"ReusedExchange", txt)),
    }


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from twawler_spark.registry import QUERIES
    from twawler_spark.session import get_spark

    # AQE off for the audit only: adaptive plans hide codegen ids and
    # exchange reuse until execution; the static plan is what we audit
    spark = get_spark(
        "plan-audit",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    rows = []
    details = {}
    for name in AUDIT:
        txt = plan_text(QUERIES[name](spark, sf))
        rows.append(audit(name, txt))
        details[name] = txt

    # the flagship round plan: the one run_round builds — the per-host
    # top-K cut and the two-phase rank over the active frontier
    # (admission happens later in the round, against outlinks only)
    from pyspark.sql import functions as F

    from twawler_spark.plans.round import build_two_phase_plan
    from twawler_spark.synth import NOW_EPOCH, write_inputs

    root = "/tmp/twawler_plan_audit"
    if not os.path.exists(f"{root}/frontier_seed"):
        write_inputs(spark, root, 100_000, 1_000, noise=False)
    frontier = spark.read.parquet(f"{root}/frontier_seed")
    budgets = spark.read.parquet(f"{root}/host_budget")
    robots = spark.read.parquet(f"{root}/robots")
    active = frontier.where(F.col("state") == "active")
    round_txt = plan_text(build_two_phase_plan(active, robots, budgets, NOW_EPOCH + 3600))
    rows.append(audit("sched_round", round_txt))

    # dialogues level-join: with the reply-edge table repartitioned on
    # `parent` ONCE and persisted, every BFS level's join must show ONE
    # exchange total (the small level side) — the edge side reads the
    # cached partitioning (InMemoryTableScan, no Exchange above it).
    # Audited with broadcast off, since at corpus scale the edge table
    # exceeds any broadcast threshold (AQE re-enables the broadcast fast
    # path at runtime when actual sizes allow).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    tweets = ev.select(F.col("event_id").alias("tweet_id"))
    is_reply = (F.col("tweet_id") >= 1000) & (F.pmod(F.col("tweet_id"), F.lit(3)) != 0)
    d_edges = tweets.where(is_reply).select(
        F.col("tweet_id").alias("child"), (F.col("tweet_id") - 1000).alias("parent")
    )
    d_roots = tweets.where(~is_reply).select(
        F.col("tweet_id").alias("root"), F.col("tweet_id"), F.lit(0).alias("depth")
    )
    edges_p = d_edges.repartition("parent").persist()
    edges_p.count()
    level_join = d_roots.join(edges_p, d_roots["tweet_id"] == edges_p["parent"]).select(
        "root", F.col("child").alias("tweet_id"), F.lit(1).alias("depth")
    )
    rows.append(audit("dialogues level-join (edges persisted)", plan_text(level_join)))
    edges_p.unpersist()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("# PLANS — physical-plan audit (`.explain(\"formatted\")`)\n\n")
        f.write("Evidence the declared plans survive Catalyst the way the design\n")
        f.write("intends: filters push to the parquet scan, joins broadcast where a\n")
        f.write("side is dimension-sized, Python appears only at the documented Arrow\n")
        f.write("surfaces, and expression work stays inside WholeStageCodegen.\n\n")
        f.write("| query | exchanges | broadcasts | codegen spans | scans w/ pushed filters | python stages | sorts | reused exchanges | 1-part windows |\n")
        f.write("|---|---|---|---|---|---|---|---|---|\n")
        for r in rows:
            f.write(
                f"| {r['name']} | {r['exchanges']} | {r['broadcasts']} | "
                f"{r['codegen_spans']} | {r['pushed']} | {r['python_stages']} | {r['sorts']} | {r['reused_exchanges']} | {r['single_partition_windows']} |\n"
            )
        sp_hits = [r["name"] for r in rows if r["single_partition_windows"]]
        f.write(
            "\n`1-part windows` flags a Window/Sort directly over an\n"
            "`Exchange SinglePartition` whose subtree holds no aggregate,\n"
            "window, or synthesized Range — i.e. a full-table scan funneled\n"
            "through one task, the global-sort scale-killer. It is the\n"
            "recurrence guard for the class VERDICT r5 flagged (a new query\n"
            "ranking a raw scan through `Window.orderBy` gets flagged on the\n"
            "next audit). Windows whose input is an aggregate are accepted by\n"
            "the static check — the audit cannot see output cardinality — so\n"
            "doc-keyed aggregate inputs remain a review item; the eight r5\n"
            "instances (incl. the aggregate-input ones) were de-weakened in\n"
            "round 6 via operators/ranks.py histogram ranks, two-phase lag\n"
            "scans, and bounded top-k aggregates.\n"
        )
        f.write(f"Current hits: {sp_hits if sp_hits else 'none'}\n")
        f.write("\nNotes:\n")
        f.write("- `sched_round`: the plan `run_round` builds over the active\n")
        f.write("  frontier. TWO hash exchanges — the tiny robots deny-map groupBy\n")
        f.write("  and ONE ranking exchange by host. Ahead of that exchange, the\n")
        f.write("  one python stage (`host_top_k`, a `mapInArrow` over each input\n")
        f.write("  partition, no exchange) cuts every host to its top B rows by\n")
        f.write("  `expected` and top B + B_late by staleness, so a hot host sends\n")
        f.write("  at most P·(2B + B_late) rows into the exchange. Both ranking\n")
        f.write("  phases come out of ONE pass after it (mixed-order row_number —\n")
        f.write("  no union, no duplicated subtree). The deny map and the budget\n")
        f.write("  dim are broadcast, so the frontier is never reshuffled for them.\n")
        f.write("  No seen anti-join: the round admits only its outlinks, later,\n")
        f.write("  against the seen filter. The wide `url` string is never read\n")
        f.write("  (robots gating reads `FRONTIER.path`).\n")
        f.write("- `dedup_minhash_lsh`/`dedup_jaccard`: the LSH band self-join is one\n")
        f.write("  shuffle on (band_idx, band_val); verification joins only the\n")
        f.write("  candidate pairs back to doc metadata.\n")
        f.write("- `f12_sentiment_cascade`: all three lexicon lookups are\n")
        f.write("  BroadcastHashJoins (the 5k-entry dictionary never shuffles the\n")
        f.write("  exploded token stream).\n")
        f.write("- `dialogues level-join (edges persisted)`: ONE live exchange per\n")
        f.write("  level — the small level side. The row counts 2 because\n")
        f.write("  `explain` prints the cached relation's BUILD plan inline (the\n")
        f.write("  one-time repartition-by-parent); at runtime the edge side is an\n")
        f.write("  InMemoryTableScan with no Exchange above it — no per-level edge\n")
        f.write("  shuffle, no per-level broadcast of a corpus-derived table.\n")
        f.write("- `ann_lsh_topk`: banded candidates — all B·P plane sums come\n")
        f.write("  from one nested higher-order expression over per-plane sign-mask\n")
        f.write("  literals (no explode, no groupBy, no per-row hashing); bucket\n")
        f.write("  populations are a count window OVER the (table, bucket)\n")
        f.write("  signature shuffle, so the small and spill branches share one\n")
        f.write("  exchange (the ReusedExchange column); per-bucket population is\n")
        f.write("  capped (spill-to-exact above the cap) and L2 norms are computed\n")
        f.write("  once per vector before the re-rank.\n")
        f.write("- `ann_ivf_topk`: IVF — cell assignment is map-side (the centroid\n")
        f.write("  set rides ONE broadcast collected row; the corpus scan stage\n")
        f.write("  folds over it, no shuffle to pick cells); probes broadcast-join\n")
        f.write("  cell members, and only probed-cell candidates reach the re-rank.\n")
        f.write("  With the corpus written partitioned by cell, the probe becomes\n")
        f.write("  partition pruning (reads n_probe/C of the data).\n")
        f.write("- `dedup_clusters`: the audited plan is the FINAL round of the\n")
        f.write("  star-contraction loop (prior rounds are localCheckpoint'd out of\n")
        f.write("  the lineage); each half-round is one window-min exchange over the\n")
        f.write("  edge set — O(log n) rounds total, no per-node adjacency\n")
        f.write("  materialization, so skewed high-degree nodes stream through the\n")
        f.write("  min aggregate.\n")
        f.write("- `ann_pq_topk`: the codebooks and the query distance table\n")
        f.write("  ship in the task closure, so the corpus scan is ONE Arrow pass\n")
        f.write("  (encode the batch, keep its per-query top-k) with no (q_id, c_id)\n")
        f.write("  shuffle; only the per-batch candidates reach the final per-query\n")
        f.write("  rank window.\n")
        f.write("- `token_budget_select`: NO global window — per-bucket token\n")
        f.write("  totals aggregate distributed, the bucket running total is a\n")
        f.write("  window over the <=10^4-row bucket dim, and per-doc cumsums\n")
        f.write("  window WITHIN buckets (partitionBy b). The oracle is the naive\n")
        f.write("  global-window spec; the hash match proves plan equivalence.\n")
        f.write("- `graph_bfs_ecc`: the audited plan is the FINAL BFS level's\n")
        f.write("  aggregate (prior levels are checkpointed out of the lineage,\n")
        f.write("  like dedup_clusters); per level only the shrinking frontier\n")
        f.write("  shuffles — the edge side is a persisted hash-partitioned scan.\n")
        f.write("- `crawl_round_*`: the driver-facing crawl round (real\n")
        f.write("  build_two_phase_plan + Arrow fetch stage); python stages are the\n")
        f.write("  plan's per-host top-K cut and the sanctioned fetch UDFs.\n")
        f.write("- `span_dedup`: 4 of its 6 exchanges and both python stages belong\n")
        f.write("  to the underlying crawl_round_docs synthesis (the plan's per-host\n")
        f.write("  cut and the fetch Arrow surface); the dedup itself adds ONE hash\n")
        f.write("  exchange on span content (occurrence count + canonical-owner rank\n")
        f.write("  are two windows over the same partitioning) and the per-doc rollup.\n")
        f.write("- `dup_ngram_coverage`: grams build map-side as an array HOF; ONE\n")
        f.write("  exchange on gram (its window sort is the single Sort node), one\n")
        f.write("  per-doc rollup exchange, and the zero-gram-doc join-back rides a\n")
        f.write("  broadcast at audit scale (AQE picks SMJ when `per` outgrows it).\n")
        f.write("- `mirror_detect`: the (host, fingerprint) DISTINCT exchange is\n")
        f.write("  computed ONCE and reused by the df-cap agg and BOTH sides of the\n")
        f.write("  posting self-join (the 6 reused exchanges); per-host set sizes\n")
        f.write("  ride broadcasts onto the shared-count pairs — the documents\n")
        f.write("  themselves never shuffle, only capped posting lists.\n")
        f.write("- `fetcher_assignment`: the slot axis is a broadcast literal dim,\n")
        f.write("  so host x slot weighting is map-side; the host-distinct exchange\n")
        f.write("  is reused across the hrw/mod scheme branches (8 reused), and the\n")
        f.write("  two rollups aggregate to scheme granularity (2 rows) before the\n")
        f.write("  final join.\n")
        f.write("- `weighted_sample`: ZERO exchanges — the A-ES key is a map-side\n")
        f.write("  expression and the sample is a TakeOrderedAndProject (per-\n")
        f.write("  partition top-k, k rows to the driver merge, no global sort).\n")
        f.write("- `frontier_shard_balance`: bucket/host derive BEFORE the dedup, so\n")
        f.write("  one (bucket, host) exchange with map-side partial-distinct\n")
        f.write("  replaces distinct()+countDistinct's two full-width shuffles; the\n")
        f.write("  totals window runs over the 64-row bucket dim.\n")
        f.write("- `redirect_resolve`: the audited plan is the FINAL pointer-\n")
        f.write("  doubling round (earlier rounds are their own checkpointed jobs,\n")
        f.write("  like dedup_clusters): one state-self-join exchange per round,\n")
        f.write("  log2(max_hops) rounds total, no per-hop walk anywhere. The\n")
        f.write("  broadcasts/sorts belong to the TEST FIXTURE's synthesis (1-row\n")
        f.write("  max-rank dim, row_number window) and to size-gated small sides\n")
        f.write("  — at production scale the state join is a hash shuffle join.\n")
        f.write("- `heavy_hitters`: the bucket-prefilter exchange carries <=64 rows\n")
        f.write("  per map task after partial agg (never the distinct-URL set); the\n")
        f.write("  heavy-bucket set and the 1-row total broadcast into pass 2, so\n")
        f.write("  only URLs inside heavy buckets reach the exact-recount shuffle.\n")
        f.write("- `soft404_detect`: the body collapses to a 32-byte fingerprint\n")
        f.write("  BEFORE the (host, fp) exchange, and the host-share window runs\n")
        f.write("  over the aggregated group rows — the host dimension is never\n")
        f.write("  broadcast and the documents are never reshuffled.\n")
        f.write("- `repopulate_batches`: ONE exchange (the per-shard window) packs\n")
        f.write("  ids into API batches — shard count tracks the fetch fleet, so\n")
        f.write("  window partitions stay bounded at any corpus size; there is no\n")
        f.write("  global row_number and no driver-side id list.\n")
        f.write("- `cattweet_lookup`: ZERO exchanges; the IN-list reaches the scan\n")
        f.write("  as PushedFilters (asserted in tests/test_r5i_queries.py), so the\n")
        f.write("  point lookup prunes row groups instead of scanning the store.\n")
        f.write("- `kcore_hosts`: the audited plan is the FINAL degree aggregate —\n")
        f.write("  prior peel rounds are localCheckpoint'd out of the lineage (the\n")
        f.write("  dedup_clusters/graph_bfs_ecc discipline); each live round is one\n")
        f.write("  degree exchange on the node key plus two semi-joins reusing it,\n")
        f.write("  over an edge set that only shrinks.\n")
        f.write("- `host_latency_quantiles`: ONE exchange on host; all five output\n")
        f.write("  stats (count + 3 quantiles + timeout) come out of the same\n")
        f.write("  partial-aggregated pass, and the md5 jitter is map-side codegen.\n")
        f.write("- `tld_lang_mismatch`: map-only CASE lookups into ONE exchange on\n")
        f.write("  host; no text rescans — the language column is upstream langid\n")
        f.write("  output.\n")
        f.write("- `span_patterns`: the pattern string and switch count build as\n")
        f.write("  array HOFs inside the fetch projection (no explode — one row per\n")
        f.write("  doc, never one per span), then ONE exchange on the pattern key\n")
        f.write("  whose cardinality is alphabet-bounded, not corpus-bounded.\n")
        f.write("- `politeness_audit`: ONE exchange on host feeds both the lag\n")
        f.write("  window and the rollup (window state is a single prior value;\n")
        f.write("  per-host rows are bounded by the audited politeness budget).\n")
        f.write("- `hll_distinct`: register build is ONE exchange on (host, j)\n")
        f.write("  capped at m=64 rows per host per map task by partial max —\n")
        f.write("  never one row per distinct URL; the exact countDistinct column\n")
        f.write("  (verification baseline only) contributes the remaining\n")
        f.write("  exchanges; the production tier keeps only the register side.\n")
        f.write("- `cms_freq`: sketch build is ONE exchange bounded at d*w=256\n")
        f.write("  rows per map task after partial sum, independent of URL\n")
        f.write("  cardinality; the 12-key watchlist probe rides a broadcast. The\n")
        f.write("  exact per-URL count exists as the verification baseline.\n")
        f.write("- `hdr_quantiles`: the sketch side is ONE exchange on (host,\n")
        f.write("  bucket_lo) — at most 64*octaves rows per host per map task\n")
        f.write("  after partial agg; the quantile probes ride a 3-row broadcast\n")
        f.write("  q-dim. The exact rank column (verification baseline) carries\n")
        f.write("  the remaining exchanges.\n")
        f.write("- `hll_merge_rounds`: the (host, round, j) partial exchange is\n")
        f.write("  capped at rounds*m rows per host; merge, one-pass, and the\n")
        f.write("  full-outer register comparison all reduce over register keys —\n")
        f.write("  nothing proportional to the URL stream crosses a second\n")
        f.write("  exchange.\n")
        f.write("- `triangle_hosts`: (degree, id) orientation bounds wedge\n")
        f.write("  fan-out at O(sqrt(m)) out-degree per node; three node-key\n")
        f.write("  shuffles total (degrees, apex wedge self-join, corner rollup)\n")
        f.write("  and the wedge close is an equi-join on the canonical edge pair\n")
        f.write("  — no adjacency lists, no OR-join.\n")
        f.write("- `hll_intersect`: each crawl's register build is ONE exchange\n")
        f.write("  on (host, j) capped at m=64 rows per host per map task; the\n")
        f.write("  union merge and the three estimates reduce over register keys\n")
        f.write("  only. The exact |A|,|B|,|A&B| columns (verification baseline)\n")
        f.write("  carry the one URL-proportional exchange; the production tier\n")
        f.write("  ships registers between clusters, never URL sets.\n")
        f.write("- `host_ewma_latency`: the only fetch-log-proportional exchange\n")
        f.write("  is the (host, round, v) partial-agg median build; the EWMA\n")
        f.write("  closed form joins ROUNDS rows per host (weighted sum, not an\n")
        f.write("  R-stage iterative chain), and the resumable state is one\n")
        f.write("  (host, numerator, idx) row per host.\n")
        f.write("- `embed_quantize`: map-only semantics — scale, codes and audit\n")
        f.write("  sums are ordered per-row array folds; the ONE audited exchange\n")
        f.write("  is the small-file spread (spread_for_explode), a no-op at\n")
        f.write("  warehouse scale where split count exceeds core count, so the\n")
        f.write("  100 TB plan is zero-exchange into the ann_ivf/pq storage tier.\n")
        f.write("- `kmeans_lloyd`: each Lloyd round broadcasts K (sum, n) integer\n")
        f.write("  centroid rows onto a map-side argmin (no corpus shuffle) and\n")
        f.write("  re-centers with ONE groupBy(cid) whose 64 per-dim BIGINT sums\n")
        f.write("  partial-aggregate map-side; lineage stays flat via a lazy\n")
        f.write("  localCheckpoint on the K-row centroid frame only. The corpus\n")
        f.write("  is scanned KM_T+1 times and nothing wider than K rows ever\n")
        f.write("  sits on the driver.\n")
        f.write("- `ucb_host_schedule`: one partial-aggregated groupBy(host) over\n")
        f.write("  the fetch log, a 1-row broadcast of the total-pull count, then\n")
        f.write("  map-side integer scoring; the global rank runs over |hosts|\n")
        f.write("  rows (bounded cardinality, same as every scheduler tail here).\n")
        f.write("  The mergeable state is one (host, pulls, wins) row per host.\n")
        f.write("- `lsh_s_curve`: the all-pairs join is BY DESIGN restricted to a\n")
        f.write("  constant 360-doc calibration sample (64620 pairs at every sf)\n")
        f.write("  — calibration validates the banding the corpus then relies on;\n")
        f.write("  the corpus-scale discovery tier remains dedup_minhash_lsh's\n")
        f.write("  single bucketed shuffle.\n")
        f.write("- `degree_assortativity`: degrees are one node-key exchange;\n")
        f.write("  endpoint decoration reuses the same node keys (two joins), the\n")
        f.write("  moment reduction partial-aggregates to one row and the knn\n")
        f.write("  curve to |degree-classes| rows; no adjacency lists.\n")
        f.write("- `bloom_fpr_audit`: bits and probes exchange on the POSITION\n")
        f.write("  key (bits capped at M rows after map-side distinct), one\n")
        f.write("  key-side groupBy, |shards| report rows. The production seen\n")
        f.write("  filter stays the Arrow broadcast bitmap; this is the sampled\n")
        f.write("  audit tier.\n")
        f.write("- `stratified_sample`: stratum stats partial-aggregate; the\n")
        f.write("  apportionment runs over |strata| rows behind 1-row broadcasts\n")
        f.write("  of N and sum(base); selection is one per-stratum window rank\n")
        f.write("  plus a broadcast allocation join — the w3 top-k shape.\n")
        f.write("- `ball2_hosts`: one middle-node self-join + distinct — exact\n")
        f.write("  2-hop reach, output bounded by sum deg^2; the 10^10-node tier\n")
        f.write("  replaces the distinct with per-node HLL register max-merge over\n")
        f.write("  neighbors (the hll_distinct algebra), documented in-query.\n")
        f.write("- `span_transitions`: per-doc pair expansion is a bounded array\n")
        f.write("  HOF (<= MAX_SPANS fan-out), ONE partial-aggregated exchange on\n")
        f.write("  the alphabet-squared key — constant-size output at any corpus\n")
        f.write("  scale.\n")
        f.write("- `index_varint_estimate`: one term exchange for the distinct;\n")
        f.write("  the gap window runs within the same term partitioning and the\n")
        f.write("  byte rollup partial-combines; under bucketBy(term)/sortBy(doc)\n")
        f.write("  (X5) the window is a zero-exchange sorted-run scan.\n")
        f.write("- `wl_host_hash`: each WL round is ONE node-key neighbor-color\n")
        f.write("  aggregation over the directed edge list (the pagerank/HITS\n")
        f.write("  message shape) with a 32-byte color as the only per-node state;\n")
        f.write("  lazy localCheckpoint keeps lineage flat across the constant\n")
        f.write("  number of rounds; class rollup partial-aggregates on color.\n")
        f.write("- `ring_rebalance`: the keys x (C+1) expansion rides a broadcast\n")
        f.write("  crawler list map-side; the double argmax is one per-key\n")
        f.write("  exchange (two max_by over the same expansion); report is |C|\n")
        f.write("  rows. Production runs this on a key sample; the hot path\n")
        f.write("  evaluates C hashes map-side at admission.\n")
        f.write("- `sched_fairness`: per-host counts partial-aggregate on host;\n")
        f.write("  the histogram exchanges on the tiny count-value key and the\n")
        f.write("  1-row moments broadcast onto it.\n")
        f.write("- `host_robustness`: hub set is a K-row broadcast, pruning is a\n")
        f.write("  map-side anti-filter, and each scenario reuses the audited\n")
        f.write("  large-star/small-star CC operator (O(log n) shuffle rounds on\n")
        f.write("  the contracted graph); summaries reduce to one row each.\n")
        f.write("- `vocab_growth`: one exchange on the shingle key (min-batch) and\n")
        f.write("  one on batch (rollup) — the same shingle shuffle the dedup tier\n")
        f.write("  runs; the cumulative window spans |batches| rows only.\n")
        f.write("- `priority_rank_corr`: the node signature reuses triangle_counts\n")
        f.write("  (three node-key shuffles); the all-pairs compare is over HOSTS\n")
        f.write("  (bounded), sampled at the 10^7-host scale like the other\n")
        f.write("  calibration tiers — documented in-query.\n")
        f.write("- `topk_overlap_curve`: two bounded-cardinality rank sorts over\n")
        f.write("  hosts, a TOPK_D-row broadcast depth expansion over the top-d\n")
        f.write("  survivors only, TOPK_D output rows.\n")
        f.write("- `ucb_regret_audit`: one groupBy(host) (shared shape with\n")
        f.write("  ucb_host_schedule), a 1-row best-arm broadcast from a bounded\n")
        f.write("  sort head, map-side exact-integer gap arithmetic.\n")
        f.write("- `bigram_branching`: bigram explode (per-doc bounded) into TWO\n")
        f.write("  aggregations on the first-token key; the top-successor pick is\n")
        f.write("  a window over the pre-aggregated vocab-x-vocab counts (tiny) —\n")
        f.write("  the f6 two-exchange shape in conditional form.\n")
        f.write("- `link_reciprocity`: directed pairs pre-aggregate map-side from\n")
        f.write("  the outlink expansion; the back-edge probe is ONE self-join on\n")
        f.write("  the swapped pair key, then a groupBy(src).\n")
        f.write("- `edge_support`: the same oriented wedge pipeline as\n")
        f.write("  triangle_counts (O(sqrt(m)) fan-out bound); closed triangles\n")
        f.write("  explode into exactly three edge contributions each, one\n")
        f.write("  pair-key groupBy, two node-key degree joins.\n")
        f.write("- `mixture_independence`: one bounded groupBy(source, lang) plus\n")
        f.write("  three tiny broadcast margins joined back map-side; the sample\n")
        f.write("  bound keeps the exact-integer chi numerator under 2^60 and the\n")
        f.write("  production form merges per-shard contingency counts first.\n")
        f.write("- `batch_drift`: one partial-aggregated groupBy(source, batch),\n")
        f.write("  a |sources|-row rollup broadcast back, map-side cross-product\n")
        f.write("  arithmetic — no mean is ever materialized.\n")
        f.write("- `join_size_estimate`: two partial-aggregated key counts and a\n")
        f.write("  key-key join; at production scale only the md5-gated sampled\n")
        f.write("  branch runs — the exact branch is the verification baseline\n")
        f.write("  (the HLL/CMS exact-next-to-estimate discipline).\n")
        f.write("- `skyline_hosts`: block-nested dominance pairing over bounded\n")
        f.write("  host cardinality + one node-key dominator rollup; production\n")
        f.write("  pre-filters with the sort-first pass and samples (documented\n")
        f.write("  in-query).\n")
        f.write("- `seed_coverage_greedy`: each greedy round is one anti-join of\n")
        f.write("  the coverage pairs against the covered set, a gain groupBy and\n")
        f.write("  a bounded argmax head; SEED_K driver-iterated rounds with lazy\n")
        f.write("  checkpoints (the kmeans/WL discipline).\n")
        f.write("- `timeout_sweep`: |grid| x log expansion rides a literal 4-row\n")
        f.write("  broadcast; one partial-aggregated groupBy(host, timeout). The\n")
        f.write("  production form runs on hdr_quantiles' bucket rows instead of\n")
        f.write("  the raw log.\n")
        f.write("- `host_rate_shrunk`: one groupBy(host) + two bounded rank sorts\n")
        f.write("  — the scheduler rank-tail regime, mergeable (host,n,w) state.\n")
        f.write("- `modularity_audit`: components from the audited CC operator;\n")
        f.write("  per-community aggregates are two node/pair-key partials; m and\n")
        f.write("  the Q numerator are 1-row broadcasts. All arithmetic BIGINT.\n")
        f.write("- `source_overlap`: one fingerprint-key groupBy (the exact-dedup\n")
        f.write("  shuffle) collecting a bounded source set; only multi-source\n")
        f.write("  fingerprints explode into the |sources|^2-bounded pair matrix.\n")
        f.write("- `crawl_yield_curve`: rank deciles come free from the plan's\n")
        f.write("  budget-rank column; two bounded exchanges (per-url doc counts,\n")
        f.write("  per-decile rollup) on keys the round already shuffles.\n")
        f.write("- `burn_rate_alerts`: short windows partial-aggregate on (host,\n")
        f.write("  hour) — the streaming tumbling-window shape; the long window\n")
        f.write("  joins a bounded 6 short partials per key (mergeable counts).\n")
        f.write("- `maxmin_budget_alloc`: demands aggregate per host; the fill\n")
        f.write("  level is one prefix-sum scan over the demand-sorted host list\n")
        f.write("  (bounded cardinality) + a 1-row broadcast; allocation is then\n")
        f.write("  map-side with a Hamilton-style integer remainder.\n")
        f.write("- `link_prediction_features`: negatives expand map-side from a\n")
        f.write("  range + broadcast node-rank table; common neighbors are one\n")
        f.write("  wedge join bounded by candidates x degree; components reuse\n")
        f.write("  the audited CC operator.\n")
        f.write("- `doc_novelty`: one shingle-key exchange (min-doc credit, the\n")
        f.write("  dedup tier's key) + one doc rollup; order-deterministic credit\n")
        f.write("  so resumes agree.\n")
        f.write("- `timing_regularity`: one lag window per user partition (the\n")
        f.write("  a7/w-family ordered scan) + partial-aggregated moments; all\n")
        f.write("  comparisons are exact cross-products, CV^2 emitted at milli\n")
        f.write("  scale to stay within int64 on month-long gap fixtures.\n")
        f.write("- `link_locality`: map-side internal/external classification\n")
        f.write("  inside the outlink expansion into one groupBy(src_host) —\n")
        f.write("  strictly cheaper than anchor_text on the same surface.\n")
        f.write("- `queue_backlog_lindley`: arrivals partial-aggregate on (host,\n")
        f.write("  round); the Lindley closed form is two windows inside the host\n")
        f.write("  partition over ROUNDS rows — no recursion, no driver loop.\n")
        f.write("- `littles_law_audit`: one groupBy(host) + a 1-row span\n")
        f.write("  broadcast; |hosts| output rows, all integer.\n")
        f.write("- `weight_sweep_winners`: WSW_STEPS-row broadcast onto the host\n")
        f.write("  signature table, one argmax per weight over bounded hosts, a\n")
        f.write("  skyline verification join against the dominator rollup.\n")
        f.write("- `crawl_round2_delta`: two invocations of the same Arrow fetch\n")
        f.write("  surface at different round numbers, one doc-key anti/semi join\n")
        f.write("  pair + per-host rollups; pins since_id disjointness under the\n")
        f.write("  driver hash.\n")
        f.write("- `span_budget_fit`: per-doc array HOFs inside the fetch\n")
        f.write("  projection (no explode), one rollup on the 2^3 verdict\n")
        f.write("  alphabet — constant-size output.\n")
        f.write("- `rank_normalize`: two bounded global sorts over doc signals —\n")
        f.write("  the exact calibration baseline; warehouse scale runs the a8\n")
        f.write("  histogram/percentile tier instead (documented in-query).\n")
        f.write("- `lsh_config_chooser`: one signature build (the dedup\n")
        f.write("  exchange) + per-config band self-joins over the SAMPLE only —\n")
        f.write("  calibration, not the corpus path.\n")
        f.write("- `span_position_profile`: bounded explode into a MAX_SPANS-\n")
        f.write("  cardinality groupBy — constant-size output.\n")
        f.write("- `alloc_gini`: per-host counts partial-aggregate; the sorted\n")
        f.write("  prefix and deciles run over host cardinality (the rank-tail\n")
        f.write("  regime), 1-row moment broadcast.\n")
        f.write("- `column_stats_for_encoding`: per column one distinct partial\n")
        f.write("  and one write-order lag window; at warehouse scale the same\n")
        f.write("  statistic runs per row group.\n")
        f.write("- `retry_cost_forecast`: one groupBy(host) + map-side exact\n")
        f.write("  geometric-series arithmetic; |hosts| rows.\n")
        f.write("- `host_reputation`: three partial-aggregated per-host passes +\n")
        f.write("  three bounded rank sorts + one composite sort — the rank-tail\n")
        f.write("  regime end to end.\n")
        f.write("- `ks_latency_drift`: (host, value) partial counts + cumulative\n")
        f.write("  windows (the quantile exchange pattern); at warehouse scale the\n")
        f.write("  same statistic runs over hdr_quantiles' bucket rows.\n")
        f.write("- `rich_club`: one node-key degree aggregation; each threshold\n")
        f.write("  is an endpoint-decorated filter + count — |grid| rows.\n")
        f.write("- `metronome_roc`: the gap moments are computed once (the\n")
        f.write("  timing_regularity exchange); every threshold is a map-side\n")
        f.write("  comparison — |grid| column sweeps, not |grid| passes.\n")
        f.write("- `host_rate_wilson`: one groupBy(host) + map-side exact\n")
        f.write("  integer arithmetic with the corrected floor-isqrt; |hosts|\n")
        f.write("  rows, the mergeable (host, n, w) state.\n")
        f.write("- `random_percolation`: per level an md5 map-side filter + the\n")
        f.write("  audited CC rounds on the contracted graph (the\n")
        f.write("  host_robustness shape x |grid| driver-iterated levels).\n")
        f.write("- `dedup_keeper_quality`: clusters from the audited CC operator\n")
        f.write("  over LSH pairs; keeper picks are two per-cluster aggregations\n")
        f.write("  on the cluster key.\n")
        f.write("- `katz3_centrality`: two node-key message aggregations (the\n")
        f.write("  pagerank/WL exchange shape) + one bounded rank sort; every\n")
        f.write("  coefficient BIGINT via the dyadic attenuation.\n")
        f.write("- `page_stitch_detect`: two map-side boundary-key projections\n")
        f.write("  into ONE equi-join on the k-gram key — the exact-dedup\n")
        f.write("  exchange shape, never quadratic.\n")
        f.write("- `theil_sen_slope`: |hosts|^2 pair expansion in the rank-tail\n")
        f.write("  regime (sampled at 10^7 hosts), one sort + one rank pick; the\n")
        f.write("  median is emitted as its exact fraction.\n")
        f.write("- `equidepth_edges`: one value partial count + cumulative window\n")
        f.write("  (the quantile exchange); bucket targets are rank arithmetic on\n")
        f.write("  a broadcast grid; per-partition merge at warehouse scale.\n")
        f.write("- `rate_policy_agreement`: one groupBy(host), map-side scoring\n")
        f.write("  for all three policies, three bounded rank sorts — one pass.\n")
        f.write("- `export_manifest`: map-side digest + one partial-aggregated\n")
        f.write("  groupBy(partition key); manifests merge by adding counts and\n")
        f.write("  sums — writers never coordinate.\n")
        f.write("- `session_threshold_sweep`: gaps computed once (per-user lag\n")
        f.write("  scan); every threshold is one conditional count — |grid|\n")
        f.write("  column sweeps, not passes.\n")
        f.write("- `p95_slo_conformance`: the quantile tier's (host, value)\n")
        f.write("  partial count + cumulative window; SLO columns map-side.\n")
        f.write("- `minhash_estimator_bias`: one signature build (the dedup\n")
        f.write("  exchange) + sample-bounded all-pairs + one decile rollup —\n")
        f.write("  the calibration discipline.\n")
        f.write("- `quality_novelty_quadrants`: the doc_novelty shingle exchange\n")
        f.write("  + one bounded quality sort + a 4-key census.\n")
        f.write("- `arrival_seasonality`: one 168-cardinality partial groupBy\n")
        f.write("  joined against a broadcast closed grid.\n")
        f.write("- `storage_tiering`: map-side access synthesis + one bounded\n")
        f.write("  rank sort (threshold-cut via equidepth at warehouse scale) +\n")
        f.write("  a 3-key census.\n")
        f.write("- `failure_streaks`: two per-host ordered window scans (the\n")
        f.write("  gaps-and-islands rn-difference key) + one island rollup.\n")
        f.write("- `postings_intersection`: the inverted-index term exchange +\n")
        f.write("  bounded top-term pair joins (28 pairs) — planner statistics.\n")
        f.write("- `median_ci_rank`: the quantile (host, value) partial count +\n")
        f.write("  cumulative window; three rank probes on the same scan.\n")
        f.write("- `bm25_tf_exact`: one watchlist-filtered (term, doc) count +\n")
        f.write("  a doc-length aggregate and 1-row broadcast; per-term bounded\n")
        f.write("  rank windows.\n")
        f.write("- `bigram_hit_score`: one bounded bigram explode, a top-K\n")
        f.write("  aggregate broadcast, a map-side semi-join count per doc.\n")
        f.write("- `anchor_content_agreement`: two (host, term) distinct partial\n")
        f.write("  aggregations (vocabulary-bounded) joined on the pair key.\n")
        f.write("- `emd_latency_drift`: the KS merged-grid exchange plus one\n")
        f.write("  lead() for step widths; rollup partial-aggregates. Runs over\n")
        f.write("  hdr buckets at warehouse scale.\n")
        f.write("- `term_concentration`: one term-key count + bounded top-k head;\n")
        f.write("  |grid| rows.\n")
        f.write("- `timeout_retry_cost`: the timeout_sweep exchange on an md5\n")
        f.write("  1-in-10 log sample (keeps series x spent exact in int64) +\n")
        f.write("  map-side series arithmetic.\n")
        f.write("- `media_runs_test`: per-doc run counts as array HOFs inside\n")
        f.write("  the fetch projection; bounded (n_text, n_media) class rollup.\n")
        f.write("- `cost_per_doc`: the yield exchange + a map-side latency\n")
        f.write("  column + a 1-row head broadcast.\n")
        f.write("- `id_gap_islands`: one ordered window scan inside the\n")
        f.write("  partition + an island rollup to a single summary row.\n")
        f.write("- `snapshot_diff`: one full-outer shuffle join at worst.\n")
        f.write("- python stages are zero everywhere except queries whose semantics\n")
        f.write("  need Arrow (url canonicalization, bloom probe, multimodal) and\n")
        f.write("  the round plan's per-host top-K cut (`sched_round`, and the\n")
        f.write("  `crawl_round_*` queries built on it) — none of the audited\n")
        f.write("  analytics queries cross into Python.\n")
        f.write("\n## Flagship scheduling-round plan (full)\n\n```\n")
        f.write(round_txt)
        f.write("```\n")
    print("wrote PLANS.md")
    for r in rows:
        print(r)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
