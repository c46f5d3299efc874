"""Iterative graph closure — reply-thread exploration at corpus scale.

Reference: twkit/analytics/dialogues.py ``explore_thread`` recurses per
tweet over a Mongo cursor (children = tweets whose in_reply_to is the
current id), depth-bounded. At 750 M tweets the reply-edge table is far
beyond broadcast size, so the rebuild is a level-synchronous BFS:

  * the edge table is hash-partitioned on ``parent`` ONCE and persisted
    — every level's join reuses that one materialized exchange (the
    in-memory scan preserves outputPartitioning, so only the small,
    shrinking level side shuffles per step);
  * each level is eagerly localCheckpoint'ed: the lineage stays flat
    (no exponentially nested join plan), each level join is its own
    job so AQE can still pick a broadcast build at runtime whenever the
    actual level/edge sizes allow — broadcast remains the size-gated
    fast path without a hand-rolled threshold;
  * the loop exits as soon as a level drains (most threads are far
    shallower than the depth cap).
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def reply_closure(
    roots: DataFrame,
    edges: DataFrame,
    max_depth: int,
) -> DataFrame:
    """Depth-bounded downward closure of ``roots`` over ``edges``.

    roots: (root, tweet_id, depth=0); edges: (child, parent).
    Returns (root, tweet_id, depth) for every reachable tweet.
    """
    edges_p = edges.repartition("parent").persist(StorageLevel.MEMORY_AND_DISK)
    levels = [roots]
    level = roots
    for d in range(1, max_depth + 1):
        level = (
            level.join(edges_p, level["tweet_id"] == edges_p["parent"])
            .select(
                "root",
                F.col("child").alias("tweet_id"),
                F.lit(d).alias("depth"),
            )
            .localCheckpoint(eager=True)
        )
        if level.isEmpty():
            break
        levels.append(level)
    out = reduce(lambda a, b: a.unionByName(b), levels)
    # every kept level is already materialized by its checkpoint, so the
    # union no longer references the partitioned edge cache
    edges_p.unpersist()
    return out


def multi_source_bfs(
    seeds: DataFrame,
    edges: DataFrame,
    max_depth: int,
) -> DataFrame:
    """(seed, node, d) — min-distance BFS from every seed at once.

    Level-synchronous frontier expansion (the Pregel shape igraph's
    radius/diameter hides behind C): the edge table is hash-partitioned
    on ``src`` once and persisted, each level joins only the shrinking
    frontier against it, first visits are claimed via an anti-join on
    the accumulated distance table, and both frames are eagerly
    localCheckpoint'ed so the lineage stays flat. All K sources expand
    in the SAME joins — seed is just a column, so sampling K sources
    for eccentricity bounds costs one BFS, not K.

    Terminates when a level drains or at ``max_depth`` (callers doing
    diameter/radius estimation pick the cap; unreachable nodes are
    simply absent)."""
    dist = seeds.select(
        F.col("seed"), F.col("seed").alias("node"), F.lit(0).alias("d")
    ).localCheckpoint(eager=True)
    frontier = dist
    edges_p = edges.repartition("src").persist(StorageLevel.MEMORY_AND_DISK)
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges_p, frontier["node"] == edges_p["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("seed", "node"), ["seed", "node"], "left_anti")
            .withColumn("d", F.lit(d))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    edges_p.unpersist()
    return dist


def bfs_min_depth(
    seeds: DataFrame,
    edges: DataFrame,
    max_depth: int,
) -> DataFrame:
    """(node, depth) — min hop distance from the seed SET, pooled.

    The hop-limit primitive of a focused crawl: unlike
    multi_source_bfs (state keyed by (seed, node) — one distance
    surface per source, for eccentricity bounds), all seeds here share
    one frontier and one settled set, so state is O(nodes reached),
    not O(nodes x seeds). Per level: one join of the shrinking
    frontier against the src-partitioned edge table + one anti-join
    against the settled set; lineage cut per level with an eager
    localCheckpoint (each level forces the previous one anyway, and
    eager state lets the edge cache be released before returning —
    the same discipline as multi_source_bfs above). Terminates early
    when a level drains."""
    dist = seeds.select(
        F.col("node"), F.lit(0).cast("int").alias("depth")
    ).localCheckpoint(eager=True)
    frontier = dist.select("node")
    edges_p = edges.repartition("src").persist(StorageLevel.MEMORY_AND_DISK)
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.alias("f")
            .join(edges_p.alias("e"), F.col("f.node") == F.col("e.src"))
            .select(F.col("e.dst").alias("node"))
            .dropDuplicates(["node"])
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d).cast("int"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    edges_p.unpersist()
    return dist


def bfs_min_depth_bitmap(
    seeds: list, edges: DataFrame, max_depth: int, n_nodes: int
) -> DataFrame:
    """bfs_min_depth for a node universe BOUNDED BY DESIGN (node ids in
    [0, n_nodes) with n_nodes a fixture/config constant): compress the
    adjacency into per-src dst bitmaps map-side (one hash exchange on
    src — the same exchange the join form pays — emitting
    n_nodes/8-byte masks, ~2.5 KB per src), then run all levels over
    the gathered bitmap matrix in one vectorized task: per level one
    OR-reduction over the frontier rows replaces a frontier⋈edges join
    + dedup + anti-join + checkpoint barrier. Exact same (node, depth)
    surface as bfs_min_depth — min hop distance, duplicate edges
    harmless (bitmap OR). For unbounded node spaces keep
    bfs_min_depth: a |V|^2/8-bit matrix only makes sense when |V| is a
    design constant (here ~50 MB at 20k nodes). A seed outside
    [0, n_nodes) raises ValueError."""
    import pandas as pd

    bad = [s for s in seeds if not 0 <= int(s) < n_nodes]
    if bad:
        raise ValueError(
            f"bfs_min_depth_bitmap: seeds {bad[:5]} outside the node universe "
            f"[0, {n_nodes})"
        )
    sc = edges.sparkSession.sparkContext
    nb = (n_nodes + 7) // 8
    p = sc.defaultParallelism

    def partial_masks(batches):
        import numpy as np

        acc = {}
        for pdf in batches:
            src = pdf["src"].to_numpy(np.int64)
            dst = pdf["dst"].to_numpy(np.int64)
            uniq, idx = np.unique(src, return_inverse=True)
            m = np.zeros((len(uniq), nb), dtype=np.uint8)
            np.bitwise_or.at(
                m, (idx, dst >> 3), (1 << (dst & 7)).astype(np.uint8)
            )
            for s, row in zip(uniq, m):
                prev = acc.get(s)
                if prev is None:
                    acc[s] = row
                else:
                    np.bitwise_or(prev, row, out=prev)
        yield pd.DataFrame(
            {
                "src": list(acc.keys()),
                "mask": [m.tobytes() for m in acc.values()],
            }
        )

    masks = (
        edges.repartition(p, "src")
        .mapInPandas(partial_masks, schema="src long, mask binary")
    )

    seed_list = [int(s) for s in seeds]

    def run_bfs(batches):
        import numpy as np

        adj = np.zeros((n_nodes, nb), dtype=np.uint8)
        for pdf in batches:
            for s, m in zip(pdf["src"], pdf["mask"]):
                np.bitwise_or(
                    adj[s], np.frombuffer(m, dtype=np.uint8), out=adj[s]
                )
        dist = np.full(n_nodes, -1, dtype=np.int64)
        frontier = np.array(sorted(set(seed_list)), dtype=np.int64)
        dist[frontier] = 0
        for d in range(1, max_depth + 1):
            if len(frontier) == 0:
                break
            nxt_mask = np.bitwise_or.reduce(adj[frontier], axis=0)
            nxt = np.nonzero(
                np.unpackbits(nxt_mask, bitorder="little")[:n_nodes]
            )[0]
            new = nxt[dist[nxt] < 0]
            dist[new] = d
            frontier = new
        reached = np.nonzero(dist >= 0)[0]
        yield pd.DataFrame(
            {"node": reached.astype(np.int64), "depth": dist[reached].astype(np.int32)}
        )

    # repartition(1), NOT coalesce(1): coalesce would collapse the
    # partial-mask stage itself into the single task — the exchange
    # boundary keeps mask-building parallel and ships only the ~|V| x
    # |V|/8-bit mask rows to the reducer that runs the levels
    return masks.repartition(1).mapInPandas(
        run_bfs, schema="node long, depth int"
    )


def resolve_chains(edges: DataFrame, max_hops: int) -> DataFrame:
    """Resolve every node of a successor map to its terminal target by
    POINTER DOUBLING — ceil(log2(max_hops)) self-join rounds instead of
    a hop-at-a-time walk.

    The crawl use case is redirect-chain resolution (the 301/302 maps
    URL canonicalization produces; reference analog: the link-resolution
    sweep of twkit/curation/checkurls.py, which chases each short-URL
    hop sequentially per row). ``edges`` is (src, dst) with AT MOST ONE
    outgoing edge per src — a function graph, so every node has exactly
    one forward path. Returns one row per node appearing in the map
    (src or dst):

      (node, final, hops, status)

    status 'resolved' → ``final`` is the chain's terminal (a node with
    no outgoing edge) and ``hops`` the EXACT chain length (terminals
    resolve to themselves at 0); status 'loop' (final/hops NULL) → the
    node sits on or feeds into a redirect cycle, or its chain exceeds
    ``max_hops`` — both are fetch-reject states for a crawler.

    100 TB shape: each round is ONE equi-join of the state table with
    itself on (ptr == node) — hash-partitioned shuffle, no broadcast,
    no per-row Python — and after round k every chain of length <= 2^k
    is settled, so a 10^10-row redirect map resolves in ~log2(max_hops)
    shuffles regardless of chain length distribution. Lineage is cut
    per round with an eager localCheckpoint (the same discipline as the
    BFS operators above); the early-exit probe is a driver-side
    isEmpty on the shrinking not-done slice, the 1-row-signature
    pattern dedup.connected_components established.
    """
    node_t = edges.schema["src"].dataType
    src_set = edges.select(F.col("src").alias("k")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    terminals = (
        edges.select(F.col("dst").alias("node"))
        .distinct()
        .join(src_set.select(F.col("k").alias("node")), "node", "left_anti")
    )
    # state: following `hops` hops from `node` lands at `ptr`;
    # done <=> ptr is a terminal (has no outgoing edge).
    state = (
        edges.select(
            F.col("src").alias("node"),
            F.col("dst").alias("ptr"),
            F.lit(1).cast("long").alias("hops"),
        )
        .join(src_set, F.col("ptr") == F.col("k"), "left")
        .select("node", "ptr", "hops", F.col("k").isNull().alias("done"))
        .localCheckpoint(eager=True)
    )
    src_set.unpersist()
    for _ in range(max(1, math.ceil(math.log2(max(2, max_hops))))):
        if state.where(~F.col("done")).isEmpty():
            break
        right = state.select(
            F.col("node").alias("r_node"),
            F.col("ptr").alias("r_ptr"),
            F.col("hops").alias("r_hops"),
            F.col("done").alias("r_done"),
        )
        # a not-done ptr is itself a src, so its state row always exists
        state = (
            state.join(right, state["ptr"] == right["r_node"], "left")
            .select(
                "node",
                F.when(F.col("done"), F.col("ptr"))
                .otherwise(F.col("r_ptr"))
                .alias("ptr"),
                F.when(F.col("done"), F.col("hops"))
                .otherwise(F.col("hops") + F.col("r_hops"))
                .alias("hops"),
                F.when(F.col("done"), F.lit(True))
                .otherwise(F.col("r_done"))
                .alias("done"),
            )
            .localCheckpoint(eager=True)
        )
    ok = F.col("done") & (F.col("hops") <= max_hops)
    resolved = state.where(ok).select(
        "node",
        F.col("ptr").alias("final"),
        "hops",
        F.lit("resolved").alias("status"),
    )
    looped = state.where(~ok).select(
        "node",
        F.lit(None).cast(node_t).alias("final"),
        F.lit(None).cast("long").alias("hops"),
        F.lit("loop").alias("status"),
    )
    term_rows = terminals.select(
        "node",
        F.col("node").alias("final"),
        F.lit(0).cast("long").alias("hops"),
        F.lit("resolved").alias("status"),
    )
    return resolved.unionByName(looped).unionByName(term_rows)


def k_core(edges: DataFrame, k: int, max_rounds: int = 32) -> DataFrame:
    """(node, degree) — Seidman's k-core of an undirected graph: the
    maximal subgraph in which every node keeps degree >= k, computed
    by iterative peeling (drop all nodes of degree < k; dropping one
    node can push a neighbour under the bar, so repeat to fixpoint).
    The crawl use is host-graph core extraction: link-farm and
    mutual-admiration clusters live in deep cores, while legitimate
    long-tail hosts peel away in the first rounds (the reference's
    follower-graph community tiers in SURVEY §2's graph family are
    this shape over users instead of hosts).

    ``edges``: one row per undirected edge (u, v), no self-loops,
    deduplicated. Returns every surviving node with its in-core
    degree.

    100 TB shape: the edge table is symmetrized once, then every peel
    round is ONE degree aggregation on the node key plus two
    semi-joins that re-use the same key — no adjacency lists are ever
    materialized per node, so hub skew streams through the hash
    aggregate. The graph only shrinks, each round is eagerly
    localCheckpoint'ed (flat lineage, AQE re-plans the semi-joins as
    the survivor set collapses toward broadcast size), and the loop
    exits on the first round that removes nothing (count equality is
    the fixpoint test — the counts are needed for the metrics row
    anyway). Rounds are bounded by ``max_rounds``; a cascade that is
    still peeling then (adversarial path-graph inputs) returns the
    partially-peeled superset, which callers treat as "core upper
    bound" exactly like a hop-capped BFS treats unreached nodes.
    """
    sym = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint(eager=True)
    )
    n_prev = sym.count()
    for _ in range(max_rounds):
        if n_prev == 0:
            break
        keep = (
            sym.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("src")
        )
        sym_next = (
            sym.join(keep, "src", "semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "semi")
            .localCheckpoint(eager=True)
        )
        n = sym_next.count()
        sym = sym_next
        if n == n_prev:
            break
        n_prev = n
    return sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, degree, n_tri) — per-node triangle participation counts
    via the degree-ordered node-iterator (Schank & Wagner 2005; the
    MapReduce form is Suri & Vassilvitskii, WWW'11). Crawl use: the
    host-graph triangle density separates organically interlinked
    communities from star-shaped aggregator hubs (many links, no
    closure) and feeds the local clustering coefficient
    2*n_tri/(degree*(degree-1)) — a link-farm signal complementary to
    k_core (cores say "densely self-referential"; triangles say
    "mutually closed").

    ``edges``: one row per undirected edge with u < v, no self-loops,
    deduplicated (the same contract as k_core).

    100 TB shape: the naive wedge join explodes on hubs — a degree-d
    node yields d^2 wedges, and web host graphs have d ~ 10^6 hubs.
    The standard fix is orientation: direct every edge from its
    (degree, id)-smaller endpoint to the larger, which makes the
    orientation acyclic and bounds every node's OUT-degree by
    O(sqrt(m)) regardless of its true degree — hub wedge fan-out
    collapses from d^2 to m. Each triangle then has exactly one apex
    (the corner with two out-edges), so the count is exact with no
    deduplication pass: one self-join on the apex key builds wedges,
    one equi-join against the canonical (least, greatest) edge set
    closes them, and corner counts come from exploding each closed
    triangle's three corners into a groupBy. Three shuffles total,
    all on node keys, none carrying adjacency lists.
    """
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        edges.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.a") == F.col("o2.a")) & (F.col("o1.b") < F.col("o2.b")),
    ).select(
        F.col("o1.a").alias("x"), F.col("o1.b").alias("y"), F.col("o2.b").alias("z")
    )
    closed = wedges.join(
        edges,
        (F.least("y", "z") == F.col("u")) & (F.greatest("y", "z") == F.col("v")),
    ).select("x", "y", "z")
    corners = closed.select(F.explode(F.array("x", "y", "z")).alias("n"))
    tri = corners.groupBy("n").agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        deg.join(tri, "n", "left")
        .where(F.col("d") >= 2)
        .select(
            F.col("n").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
        )
    )
