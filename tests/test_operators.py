"""Unit tests for the reusable operator modules (dedup, similarity,
multimodal, spans, text) — each exercised through real Spark plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from twawler_spark.operators import dedup, multimodal, similarity
from twawler_spark.functions import spans as sp
from twawler_spark.functions import text as tx

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "lang", "source"
    )


def _with_near_dups(d):
    mut = d.select(
        F.concat("doc_id", F.lit("_nd")).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        "lang",
        "source",
    )
    return d.unionByName(mut)


# ------------------------------------------------------------------ dedup

def test_spread_for_explode_widens_small_inputs_only(spark):
    """A narrow (small-file) input is repartitioned up to the default
    parallelism; an input already at/above it passes through unchanged
    (the 100 TB no-op path). Row content is never altered."""
    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1).withColumnRenamed("id", "doc_id")
    spread = dedup.spread_for_explode(narrow, "doc_id")
    assert spread.rdd.getNumPartitions() == target
    assert sorted(r.doc_id for r in spread.collect()) == list(range(100))
    wide = spark.range(100).repartition(target + 4, "id").withColumnRenamed(
        "id", "doc_id"
    )
    assert dedup.spread_for_explode(wide, "doc_id") is wide


def test_exact_dedup_keeps_min_id(spark):
    d = _docs(spark)
    dup = d.unionByName(
        d.select(F.concat("doc_id", F.lit("_z")).alias("doc_id"), "text", "lang", "source")
    )
    kept = dedup.exact_dedup(dup)
    assert kept.count() == d.count()
    assert kept.where(F.col("doc_id").endswith("_z")).count() == 0


def test_minhash_lsh_finds_planted_pairs(spark):
    d = _with_near_dups(_docs(spark))
    sigs = dedup.minhash_signatures(d)
    pairs = dedup.lsh_candidate_pairs(sigs)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    planted = {
        (r["doc_id"], r["doc_id"] + "_nd") for r in _docs(spark).select("doc_id").collect()
    }
    recall = len(got & planted) / len(planted)
    assert recall > 0.7, recall


def test_simhash_blocking_full_recall_within_radius(spark):
    d = _with_near_dups(_docs(spark))
    sigs = dedup.simhash(d)
    pairs = dedup.simhash_near_pairs(sigs, max_hamming=3)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    # ground truth: all planted pairs whose true hamming <= 3
    byid = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    truth = set()
    for did, h in byid.items():
        if did.endswith("_nd"):
            continue
        other = byid.get(did + "_nd")
        if other is not None and bin(h ^ other).count("1") <= 3:
            truth.add((did, did + "_nd"))
    assert truth, "need some close planted pairs"
    # 4 x 16-bit blocks guarantee recall=1 for hamming <= 3 (pigeonhole)
    assert truth <= set(got), truth - set(got)


def test_jaccard_pairs_threshold(spark):
    d = _with_near_dups(_docs(spark))
    pairs = dedup.jaccard_pairs(d, block_cols=["lang", "source"], threshold=0.9)
    rows = pairs.collect()
    assert all(r["jaccard"] >= 0.9 for r in rows)
    got = {(r["doc_a"], r["doc_b"]) for r in rows}
    planted = {
        (r["doc_id"], r["doc_id"] + "_nd") for r in _docs(spark).select("doc_id").collect()
    }
    assert len(got & planted) / len(planted) > 0.8


# -------------------------------------------------------------- similarity

def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_lsh_topk_retrieves_scaled_twin(spark):
    e = _emb(spark)
    twins = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")).alias("embedding"),
        "label",
    )
    corpus = e.unionByName(twins)
    queries = e.where(F.col("vec_id") < 10)
    top = similarity.lsh_topk(queries, corpus, k=3)
    top1 = {r["q_id"]: r["c_id"] for r in top.where(F.col("rnk") == 1).collect()}
    # sign pattern of 2x equals x -> same bucket; cosine(x,2x)=1 -> rank 1
    for q, c in top1.items():
        assert c == q + 100000, (q, c)


def test_lsh_topk_subset_of_brute_force_scores(spark):
    e = _emb(spark)
    q = e.where(F.col("vec_id") < 5)
    bf = similarity.brute_force_topk(q, e, k=5).collect()
    ap = similarity.lsh_topk(q, e, k=5).collect()
    bf_best = {}
    for r in bf:
        bf_best.setdefault(r["q_id"], max(r["cos"], bf_best.get(r["q_id"], -2)))
    for r in ap:
        assert r["cos"] <= bf_best[r["q_id"]] + 1e-9


def test_connected_components_path_and_forest(spark):
    # a 64-node path (worst case for diameter-bound propagation: the
    # star-contraction rounds must close it in O(log n), far under the
    # max_iter guard), two disjoint triangles sharing no nodes, and a
    # lone self-edge-free pair
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(63)]
    edges += [("t1", "t2"), ("t2", "t3"), ("t3", "t1")]
    edges += [("s9", "s1"), ("s1", "s5")]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    out = dedup.connected_components(df, max_iter=12)
    comp = {r["node"]: r["component"] for r in out.collect()}
    assert all(comp[f"n{i:03d}"] == "n000" for i in range(64))
    assert comp["t1"] == comp["t2"] == comp["t3"] == "t1"
    assert comp["s9"] == comp["s1"] == comp["s5"] == "s1"
    assert len(comp) == 64 + 3 + 3


def test_pq_adc_retrieves_exact_twin(spark):
    e = _emb(spark)
    twins = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = e.unionByName(twins)
    q = e.where(F.col("vec_id") < 10)
    top = similarity.pq_adc_topk(q, corpus, k=1, codeword_mod=17)
    # an identical copy has the query's own argmin codes, so its ADC is
    # the minimal achievable (the query's quantization distance) ->
    # rank 1 on this deterministic fixture
    for r in top.collect():
        assert r["c_id"] == r["q_id"] + 100000, (r["q_id"], r["c_id"])
    # and every code is a valid codeword id
    cbs = similarity.pq_codebooks(corpus, codeword_mod=17)
    codes = similarity.pq_encode(corpus, cbs)
    cw_ids = {r["cw_id"] for r in cbs.select("cw_id").distinct().collect()}
    got = {r["code"] for r in codes.select("code").distinct().collect()}
    assert got <= cw_ids
    # exactly m codes per vector
    per_vec = codes.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_vec] == [8]


def test_pq_adc_rejects_oversized_query_side(spark, monkeypatch):
    """The query side is collected to the driver: one row over the cap
    raises before any distance table is built."""
    import pytest

    monkeypatch.setattr(similarity, "PQ_MAX_QUERIES", 3)
    e = _emb(spark)
    q = e.where(F.col("vec_id") < 4)
    with pytest.raises(ValueError, match="more than 3 rows"):
        similarity.pq_adc_topk(q, e, k=1, codeword_mod=17)


def test_multi_source_bfs_exact_distances(spark):
    from twawler_spark.operators.graph import multi_source_bfs

    # directed path 0->1->...->9 plus a shortcut 0->5: distances from 0
    # must take the min (d(5)=1, d(6)=2, ...), and seed 7 reaches only
    # the tail
    edges = [(i, i + 1) for i in range(9)] + [(0, 5)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (7,)], ["seed"])
    dist = {
        (r["seed"], r["node"]): r["d"]
        for r in multi_source_bfs(seeds, e, max_depth=12).collect()
    }
    assert dist[(0, 4)] == 4 and dist[(0, 5)] == 1 and dist[(0, 9)] == 5
    assert dist[(7, 9)] == 2 and (7, 0) not in dist
    # depth cap truncates: with max_depth=2, node 9 is unreached from 0
    dist2 = {
        (r["seed"], r["node"])
        for r in multi_source_bfs(seeds, e, max_depth=2).collect()
    }
    assert (0, 9) not in dist2 and (0, 6) in dist2


def test_connected_components_matches_union_find(spark):
    # independent oracle: a seeded pseudo-random graph checked against
    # a pure-Python union-find (no Spark, no SQL — a third
    # implementation of the spec)
    import hashlib

    def h(i):
        return int(hashlib.md5(f"cc{i}".encode()).hexdigest()[:8], 16)

    edges = [
        (f"n{h(i) % 80:02d}", f"n{h(i + 1000) % 80:02d}")
        for i in range(300)
        if h(i) % 80 != h(i + 1000) % 80
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    # path-compress to the true min: find() roots are union-by-min
    want = {n: find(r) for n, r in want.items()}

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(df, max_iter=15).collect()
    }
    assert got == want


def test_connected_components_skew_hub(spark):
    # one hub with 50k spokes: the window-min half-rounds must stream
    # the high-degree neighbor list through the aggregate (no per-node
    # set materialization) and still close in O(log n) rounds
    hub = spark.range(1, 50001).select(
        F.lit("hub").alias("doc_a"),
        F.concat(F.lit("s"), F.col("id")).alias("doc_b"),
    )
    out = dedup.connected_components(hub, max_iter=8)
    assert out.count() == 50001
    # component min is lexicographic: "hub" < "s1"
    assert out.where(F.col("component") != "hub").count() == 0


def test_ivf_cell_partitioned_corpus_prunes(spark, tmp_path):
    # the IVF scale path: corpus written partitioned by cell -> probing
    # a cell is partition pruning, visible as PartitionFilters in the
    # scan (reads n_probe/C of the data instead of all of it)
    e = _emb(spark)
    cents = similarity.ivf_centroids(e, centroid_mod=17)
    cells = similarity.ivf_assign(e, cents)
    path = str(tmp_path / "corpus_by_cell")
    e.join(cells, "vec_id").write.partitionBy("cell").parquet(path)
    probed = spark.read.parquet(path).where(F.col("cell") == 0)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell" in plan, plan[:800]


def test_ivf_assign_partitions_corpus_and_probe_bounds_reads(spark):
    e = _emb(spark)
    cents = similarity.ivf_centroids(e, centroid_mod=17)
    n_cells = cents.count()
    cells = similarity.ivf_assign(e, cents)
    # every vector lands in exactly one existing cell
    assert cells.count() == e.count()
    assigned = {r["cell"] for r in cells.select("cell").distinct().collect()}
    cent_ids = {r["cid"] for r in cents.select("cid").collect()}
    assert assigned <= cent_ids
    # a centroid is its own nearest centroid (cos=1 with itself)
    own = dict(cells.where(F.col("vec_id").isin(*cent_ids)).collect())
    for cid in cent_ids:
        assert own[cid] == cid, (cid, own[cid])
    # probing n_probe cells touches at most the members of those cells
    probes = similarity.ivf_probe_cells(
        e.where(F.col("vec_id") < 5), cents, n_probe=2
    )
    per_q = probes.groupBy("q_id").count().collect()
    assert all(r["count"] == min(2, n_cells) for r in per_q)


def test_ivf_topk_retrieves_scaled_twin(spark):
    e = _emb(spark)
    twins = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")).alias("embedding"),
        "label",
    )
    corpus = e.unionByName(twins)
    q = e.where(F.col("vec_id") < 10)
    ap = similarity.ivf_topk(q, corpus, k=1, centroid_mod=17, n_probe=1)
    top1 = {r["q_id"]: r["c_id"] for r in ap.collect()}
    # argmax-cosine cell assignment is scale-invariant, so the 2x twin
    # shares the query's cell; cos(x,2x)=1 -> rank 1 even at n_probe=1
    for qid, cid in top1.items():
        assert cid == qid + 100000, (qid, cid)
    # and the approximate score never beats brute force
    bf1 = {r["q_id"]: r["cos"] for r in similarity.brute_force_topk(q, corpus, k=1).collect()}
    for r in similarity.ivf_topk(q, corpus, k=1, centroid_mod=17, n_probe=2).collect():
        assert r["cos"] <= bf1[r["q_id"]] + 1e-9


# -------------------------------------------------------------- multimodal

def test_multimodal_metadata(spark):
    media = multimodal.attach_media(_docs(spark))
    meta = multimodal.extract_metadata(media)
    rows = meta.collect()
    assert len(rows) == _docs(spark).count()
    for r in rows[:50]:
        assert r["media_kind"] in ("image", "audio", "video")
        assert r["n_bytes"] > 0 and len(r["content_id"]) == 40
        if r["media_kind"] == "image":
            assert r["width"] > 0 and r["duration_ms"] == 0
        else:
            assert r["duration_ms"] > 0
    again = {tuple(r) for r in multimodal.extract_metadata(media).collect()}
    assert again == {tuple(r) for r in rows}  # deterministic


def test_frame_sample(spark):
    media = multimodal.attach_media(_docs(spark))
    meta = multimodal.extract_metadata(media)
    frames = multimodal.frame_sample(meta, every_ms=1000)
    per_ref = {r["media_ref"]: r["n"] for r in
               frames.groupBy("media_ref").agg(F.count("*").alias("n")).collect()}
    for r in meta.where(F.col("media_kind") == "video").collect():
        assert per_ref[r["media_ref"]] == r["duration_ms"] // 1000 + 1


def test_bmp_decode_roundtrip(spark):
    # odd width -> nonzero row padding, which the decoder must strip
    buf = multimodal.make_bmp(5, 3, 10, 20, 30)
    assert buf[:2] == b"BM"
    assert len(buf) == 54 + ((3 * 5 + 3) // 4 * 4) * 3

    decoded = multimodal.decode_image(
        multimodal.attach_bmp_media(_docs(spark), "doc_id")
    ).collect()
    assert len(decoded) > 0
    for r in decoded:
        i = int(r.media_ref)
        assert (r.width, r.height) == (5 + i % 16, 4 + i % 8)
        assert (r.mean_r, r.mean_g, r.mean_b) == (
            i % 256, i * 7 % 256, i * 13 % 256
        )


# ------------------------------------------------------------------ spans

def test_span_ops(spark):
    df = spark.createDataFrame(
        [
            ("d1", [("text", "hello world", None, 0), ("media", None, "m1", 1),
                     ("text", "bye", None, 2)]),
            ("d2", [("media", None, "m2", 0)]),
            ("bad", [("text", "x", None, 1), ("text", "y", None, 1)]),
        ],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    stats = {r["doc_id"]: r for r in sp.span_stats(df).collect()}
    assert stats["d1"]["n_text"] == 2 and stats["d1"]["n_media"] == 1
    assert stats["d1"]["valid"] is True
    assert stats["d2"]["valid"] is True
    assert stats["bad"]["valid"] is False  # non-increasing offsets
    texts = {r["doc_id"]: r["t"] for r in
             df.select("doc_id", sp.doc_text(F.col("spans")).alias("t")).collect()}
    assert texts["d1"] == "hello world bye"
    exploded = sp.explode_spans(df)
    assert exploded.count() == 6


def test_renumber_offsets(spark):
    df = spark.createDataFrame(
        [("d", [("text", "a", None, 5), ("media", None, "m", 9)])],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    out = df.select(sp.renumber_offsets(F.col("spans")).alias("spans"))
    offs = [s["offset"] for s in out.first()["spans"]]
    assert offs == [0, 1]
    assert out.select(sp.spans_valid(F.col("spans")).alias("v")).first()["v"] is True


# ------------------------------------------------------------------- text

def test_text_kernels(spark):
    df = spark.createDataFrame(
        [("the a value data table spark",), ("zzz qqq",), ("",)], ["text"]
    )
    rows = df.select(
        tx.lang_id(F.col("text")).alias("lang"),
        tx.token_count(F.col("text")).alias("n"),
        F.round(tx.quality_score(F.col("text")), 4).alias("q"),
        tx.fingerprint(F.col("text")).alias("fp"),
        tx.tokenize_re(F.col("text")).alias("re_toks"),
    ).collect()
    assert rows[0]["lang"] == "en" and rows[1]["lang"] == "other"
    assert rows[0]["n"] == 6
    assert 0.0 <= rows[0]["q"] <= 1.0
    assert len(rows[0]["fp"]) == 32
    assert rows[0]["re_toks"][:2] == ["the", "a"]
    assert rows[1]["re_toks"] == ["zzz", "qqq"]


# --------------------------------------------------- S8 overlap-stop scan

def test_s8_stop_condition(spark):
    """dumpfavs.py:30 semantics: keep paging while cumulative known
    <= stop; the page where the threshold is crossed is still fetched
    (the check happens before the request), later pages are not."""
    from twawler_spark.coverage_queries import overlap_stop_scan

    # one user, 5 pages of 10; pages 0-1 fully known (20 known total);
    # stop=15 -> page 2 still scanned (known_before=20 > 15? no: before
    # page2 cum=20 > 15 -> NOT scanned). pages 0,1 scanned (before=0,10).
    rows = [(1, 1000 - i, 1 if i < 20 else 0) for i in range(50)]
    # second user: nothing known -> all 5 pages scanned
    rows += [(2, 1000 - i, 0) for i in range(50)]
    favs = spark.createDataFrame(rows, "user_id int, tweet_id int, known int")
    out = {
        r["user_id"]: r
        for r in overlap_stop_scan(favs, page_size=10, stop=15).collect()
    }
    assert out[1]["n_pages_scanned"] == 2
    assert out[1]["n_known_seen"] == 20 and out[1]["n_new"] == 0
    assert out[2]["n_pages_scanned"] == 5
    assert out[2]["n_new"] == 50 and out[2]["n_known_seen"] == 0


def test_bmp_decode_property():
    # pure-function property check, no Spark: any (w, h, color) roundtrips
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=64),
        h=st.integers(min_value=1, max_value=32),
        r=st.integers(min_value=0, max_value=255),
        g=st.integers(min_value=0, max_value=255),
        b=st.integers(min_value=0, max_value=255),
    )
    def check(w, h, r, g, b):
        buf = multimodal.make_bmp(w, h, r, g, b)
        assert multimodal.decode_bmp_bytes(buf) == (w, h, r, g, b)

    check()


def test_wav_decode_property():
    # pure-function property check, no Spark: arbitrary PCM16 channel
    # contents roundtrip through the RIFF writer/parser with exact
    # integer mean (floor toward -inf matches numpy int64 //) and peak
    import numpy as np
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        nch=st.integers(min_value=1, max_value=2),
        samples=st.lists(
            st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=200
        ),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    def check(nch, samples, rate):
        chans = [samples, [(-s) % 1000 for s in samples]][:nch]
        buf = multimodal.make_wav(rate, chans)
        got = multimodal.decode_wav_bytes(buf)
        n = len(samples)
        want = (nch, rate, n, n * 1000 // rate)
        assert got[:4] == want
        for c in range(2):
            if c < nch:
                arr = np.asarray(chans[c], dtype=np.int64)
                assert got[4 + 2 * c] == int(arr.sum()) // n
                assert got[5 + 2 * c] == int(np.abs(arr).max())
            else:
                assert got[4 + 2 * c : 6 + 2 * c] == (0, 0)

    check()


def test_banded_lsh_candidates_bounded_under_skew(spark):
    """Skewed corpus (one hot region: many copies of the same vector)
    must NOT degenerate the bucket join quadratically: hot buckets are
    capped and their members spill to the exact path, so candidate
    volume is O(Q·(B·cap + |spill|)) — and recall survives (every
    query still sees the hot members via the spill)."""
    e = _emb(spark)
    base = e.where(F.col("vec_id") < 20)
    # 200 near-identical vectors (same sign pattern -> one bucket/table)
    hot = (
        e.where(F.col("vec_id") == 0)
        .crossJoin(spark.range(200).select(F.col("id").alias("k")))
        .select(
            (F.col("k") + 10000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(1.0).cast("float")
            ).alias("embedding"),
        )
    )
    corpus = base.select("vec_id", "embedding").unionByName(hot)
    queries = base.select("vec_id", "embedding").where(F.col("vec_id") < 5)
    cap = 16
    cand = similarity.banded_lsh_candidates(
        queries, corpus, n_tables=4, n_planes=8, bucket_cap=cap
    )
    n_q = queries.count()
    n_cand = cand.count()
    # bound: per query at most 4 tables * cap normal candidates + the
    # distinct spill members (hot set + anything else oversized)
    spill_max = 200 + 20
    assert n_cand <= n_q * (4 * cap + spill_max), (n_cand, n_q)
    # recall through the spill: query 0 is IDENTICAL to every hot copy,
    # whose bucket is oversized in all tables — still a candidate
    got = {r["c_id"] for r in cand.where(F.col("q_id") == 0).collect()}
    assert 10000 in got


def test_reply_closure_early_exit_and_depth(spark):
    """graph.py reply_closure: level-synchronous BFS must traverse
    chains exactly to the depth cap, stop early when a level drains,
    and never re-broadcast/shuffle the edge side per level (covered by
    the PLANS.md audit; here: semantics)."""
    from twawler_spark.operators.graph import reply_closure

    # two chains: 1->2->3->4 (depth 3) and 10->11 (depth 1), one isolate
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (11, 10)], "child long, parent long"
    )
    roots = spark.createDataFrame(
        [(1,), (10,), (99,)], "root long"
    ).select("root", F.col("root").alias("tweet_id"), F.lit(0).alias("depth"))
    out = reply_closure(roots, edges, max_depth=6)
    rows = {(r["root"], r["tweet_id"]): r["depth"] for r in out.collect()}
    assert rows[(1, 4)] == 3 and rows[(1, 2)] == 1
    assert rows[(10, 11)] == 1
    assert rows[(99, 99)] == 0
    assert len(rows) == 4 + 2 + 1
    # depth cap truncates
    capped = reply_closure(roots, edges, max_depth=2)
    assert max(r["depth"] for r in capped.collect()) == 2


def test_avi_decode_property():
    # pure-function property check, no Spark: any (dims, fps, frame
    # colors) roundtrips through the RIFF/AVI writer/parser — constant
    # fill makes the per-frame channel means exact
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=32),
        h=st.integers(min_value=1, max_value=16),
        fps=st.sampled_from([10, 25, 30]),
        colors=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=255),
                st.integers(min_value=0, max_value=255),
                st.integers(min_value=0, max_value=255),
            ),
            min_size=1,
            max_size=6,
        ),
    )
    def check(w, h, fps, colors):
        buf = multimodal.make_avi(w, h, fps, colors)
        got = multimodal.decode_avi_bytes(buf)
        assert got == (w, h, fps, len(colors), colors)

    check()


def test_avi_decode_rejects_garbage():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_avi_bytes(b"RIFFxxxxWAVE")
    with _pytest.raises(ValueError):
        multimodal.decode_avi_bytes(b"nope")
    # header/movi frame-count mismatch must be caught
    buf = bytearray(multimodal.make_avi(4, 4, 10, [(1, 2, 3), (4, 5, 6)]))
    import struct
    # truncate movi to one frame by rewriting the movi LIST to cover
    # only the first chunk: simpler — corrupt avih's dwTotalFrames
    pos = buf.find(b"avih") + 8
    struct.pack_into("<I", buf, pos + 16, 5)  # dwTotalFrames = 5
    with _pytest.raises(ValueError):
        multimodal.decode_avi_bytes(bytes(buf))


def test_gopher_quality_full_planted_flags(spark):
    """Intent check beyond oracle equality: every planted _sym companion
    breaches the quality rules, every _rep companion the repetition
    rules, and the per-source flag counts reflect exactly that."""
    from twawler_spark.training_queries import q_gopher_quality_full

    rows = {r["source"]: r for r in q_gopher_quality_full(spark, SF).collect()}
    assert rows
    for src, r in rows.items():
        n_per_kind = r["n_docs"] // 3  # orig + _sym + _rep per doc
        assert r["n_docs"] == 3 * n_per_kind
        # _sym: short symbol words, ellipsis lines, zero stopwords
        assert r["n_wordlen"] >= n_per_kind
        assert r["n_sym"] == n_per_kind
        assert r["n_alpha"] == n_per_kind
        assert r["n_ellipsis"] == n_per_kind
        # _sym lines are identical too, so both planted kinds dup-flag
        assert r["n_dupline"] >= 2 * n_per_kind
        assert r["n_g4"] >= 2 * n_per_kind
        # the real corpus must NOT be flagged by the scalar rules
        assert r["n_stop"] <= 2 * n_per_kind


def test_dedup_incremental_catches_planted(spark):
    """Every planted _nd near-copy of a corpus doc must be dropped by
    the round-vs-corpus band semi-join; plain round docs mostly survive."""
    from twawler_spark.training_queries import q_dedup_incremental

    rows = q_dedup_incremental(spark, SF).collect()
    assert rows
    total_round = sum(r["n_round_docs"] for r in rows)
    total_dropped = sum(r["n_dropped"] for r in rows)
    assert total_round > 0
    # planted _nd docs exist only for sources whose docs hit doc_id%10==0;
    # each must be caught
    import duckdb

    con = duckdb.connect()
    planted = con.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/documents.parquet') "
        "WHERE doc_id % 10 = 0"
    ).fetchone()[0]
    assert total_dropped >= planted  # all planted caught (+ chance hits)
    first_dropped = [r["first_dropped_id"] for r in rows if r["n_dropped"] > 0]
    assert any(i and i.endswith("_nd") for i in first_dropped)


def test_gopher_quality_full_third_implementation(spark):
    """Pure-Python third implementation of the full Gopher suite (no
    Spark, no DuckDB) over the same fixture — engine-vs-engine oracle
    equality cannot catch a shared misreading of the rules; this can."""
    import math
    import re as _re

    import pyarrow.parquet as pq

    from twawler_spark.training_queries import (
        _BAD_SYM_TEXT,
        GOPHER_STOPS,
        LINE_W,
        q_gopher_quality_full,
    )

    tbl = pq.read_table(f"{SF}/documents.parquet").to_pylist()

    def r4(x):  # Spark's HALF_UP at 4 decimals
        return math.floor(x * 10_000 + 0.5) / 10_000

    def doc_stats(text):
        toks = text.split(" ")
        n = len(toks)
        mean_wl = r4((len(text) - n + 1) / n)
        sym = r4(sum(1 for t in toks if t == "#" or "..." in t) / n)
        alpha = r4(sum(1 for t in toks if _re.search("[a-z]", t)) / n)
        stop = len(set(toks) & set(GOPHER_STOPS))
        nlines = math.ceil(n / LINE_W)
        lines = [" ".join(toks[j * LINE_W:(j + 1) * LINE_W]) for j in range(nlines)]
        ell = r4(sum(1 for l in lines if l.endswith("...")) / nlines)
        from collections import Counter

        lc = Counter(lines)
        tot_chars = sum(c * len(l) for l, c in lc.items())
        dlf = r4(sum(c - 1 for c in lc.values()) / len(lines))
        dcf = r4(sum((c - 1) * len(l) for l, c in lc.items()) / tot_chars)
        gf = {}
        for g in (3, 4):
            grams = [" ".join(toks[i:i + g]) for i in range(max(n - g + 1, 1))]
            gc = Counter(grams)
            gf[g] = r4(max(c * len(gr) for gr, c in gc.items()) / len(text))
        return mean_wl, sym, alpha, stop, ell, dlf, dcf, gf[3], gf[4]

    agg = {}
    for row in tbl:
        rep = " ".join(row["text"].split(" ")[:LINE_W] * 6)
        for text in (row["text"], _BAD_SYM_TEXT, rep):
            wl, sym, al, st, el, dlf, dcf, g3, g4 = doc_stats(text)
            a = agg.setdefault(
                row["source"],
                {"n": 0, "fl": [0] * 9, "dlf": 0.0, "g3": 0.0, "g4": 0.0},
            )
            a["n"] += 1
            for i, f in enumerate(
                [wl < 3 or wl > 10, sym > 0.1, al < 0.8, st < 2, el > 0.3,
                 dlf > 0.3, dcf > 0.2, g3 > 0.18, g4 > 0.16]
            ):
                a["fl"][i] += int(f)
            a["dlf"] += dlf
            a["g3"] += g3
            a["g4"] += g4

    got = {r["source"]: r for r in q_gopher_quality_full(spark, SF).collect()}
    assert set(got) == set(agg)
    keys = ["n_wordlen", "n_sym", "n_alpha", "n_stop", "n_ellipsis",
            "n_dupline", "n_dupchar", "n_g3", "n_g4"]
    for src, a in agg.items():
        g = got[src]
        assert g["n_docs"] == a["n"]
        assert [g[k] for k in keys] == a["fl"], (src, [g[k] for k in keys], a["fl"])
        for col, tot in (("avg_dup_line_frac", a["dlf"]),
                         ("avg_g3_frac", a["g3"]), ("avg_g4_frac", a["g4"])):
            assert abs(g[col] - r4(tot / a["n"])) < 1e-6, (src, col)


def test_frontier_pagerank_third_implementation(spark):
    """Dense numpy power iteration (matrix form) vs the DataFrame
    PageRank — independent formulation, exact same spec (uniform init,
    damping, dangling mass redistributed uniformly, 3 iterations)."""
    import numpy as np
    import pyarrow.parquet as pq

    from twawler_spark.coverage_queries import (
        PR_DAMPING,
        PR_ITERS,
        q_frontier_pagerank,
    )

    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    edges = {
        (r["user_id"], 1 + (r["event_id"] * 7) % 149)
        for r in ev
        if r["user_id"] != 1 + (r["event_id"] * 7) % 149
    }
    ids = sorted({s for s, _ in edges} | {t for _, t in edges})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    M = np.zeros((n, n))
    for s, t in edges:
        M[idx[t], idx[s]] += 1.0
    od = M.sum(axis=0)
    has_out = od > 0
    M[:, has_out] /= od[has_out]
    r = np.full(n, 1.0 / n)
    d = PR_DAMPING
    for _ in range(PR_ITERS):
        dang = r[~has_out].sum()
        r = (1 - d) / n + d * (M @ r + dang / n)
    got = {row["id"]: row["pr"] for row in q_frontier_pagerank(spark, SF).collect()}
    assert set(got) == set(ids)
    assert abs(sum(got.values()) - 1.0) < 1e-3  # ranks form a distribution
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-6, (v, got[v], r[idx[v]])


def test_dedup_exact_substring_flags_planted_pairs(spark):
    """Every planted _xs companion AND its original must be flagged
    companion must be flagged (all its windows duplicate the
    original's prefix, coverage = 1.0). Originals are flagged only
    when the 4 shared prefix windows are >=50% of their own window
    count (length-dependent), and the synthetic corpus also carries
    natural long shared prefixes across docs — so per source the
    flagged count is lower-bounded by the planted-companion count."""
    import duckdb

    from twawler_spark.training_queries import q_dedup_exact_substring

    rows = q_dedup_exact_substring(spark, SF).collect()
    con = duckdb.connect()
    planted_per_source = {
        r[0]: r[1]
        for r in con.sql(
            f"SELECT source, count(*) FROM read_parquet('{SF}/documents.parquet') "
            "WHERE doc_id % 5 = 0 GROUP BY source"
        ).fetchall()
    }
    assert sum(r["n_flagged"] for r in rows) > 0
    for r in rows:
        assert r["n_flagged"] >= planted_per_source.get(r["source"], 0), r


# ------------------------------------------- round-5b: DSIR / CCNet / traps

def test_dsir_weights_favor_target_language(spark):
    """The DSIR importance weight must rank target-language (en) docs
    above non-target docs on average — the selection signal the
    resampler keys on — and the selected flag must equal weight > 0."""
    from twawler_spark.training_queries import q_dsir_select

    rows = q_dsir_select(spark, SF).collect()
    assert rows, "probe slice empty"
    en = [r.dsir_weight for r in rows if r.lang == "en"]
    other = [r.dsir_weight for r in rows if r.lang != "en"]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)
    for r in rows:
        assert r.selected == (1 if r.dsir_weight > 0 else 0)


def test_ccnet_buckets_are_terciles(spark):
    """Per language: three buckets, sizes within 1 of each other
    (exact-percentile cuts), and mean NLL ordered head < middle < tail."""
    from twawler_spark.training_queries import q_ccnet_lm_buckets

    rows = q_ccnet_lm_buckets(spark, SF).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    for lang, b in by_lang.items():
        if len(b) < 3:  # tiny sf0.001 langs can collapse a bucket
            continue
        sizes = [b[k].n_docs for k in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= max(2, max(sizes)), (lang, sizes)
        assert b["head"].avg_nll <= b["middle"].avg_nll <= b["tail"].avg_nll, lang


def test_trap_detection_flags_id_bearing_hosts(spark):
    """Hosts h0-h4 carry id-bearing URL spaces (the planted traps);
    h5-h19 have bounded template spaces. The ratio flag must separate
    them exactly, from the URLs alone."""
    from twawler_spark.entry_queries import q_trap_detection

    rows = q_trap_detection(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 20
    for r in rows:
        expected = 1 if int(r.host[1:]) < 5 else 0
        assert r.is_trap == expected, (r.host, r.n_urls, r.n_templates)
        assert r.n_urls >= r.n_templates


def test_host_adaptive_budget_bounds_and_monotone(spark):
    """Budgets stay inside [1, 32] and are antitone in observed
    latency: a slower host never gets a larger budget."""
    from twawler_spark.entry_queries import q_host_adaptive_budget

    rows = q_host_adaptive_budget(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 20
    for r in rows:
        assert 1 <= r.next_budget <= 32
    by_lat = sorted(rows, key=lambda r: r.avg_latency)
    budgets = [r.next_budget for r in by_lat]
    assert all(a >= b for a, b in zip(budgets, budgets[1:]))


def test_semdedup_drops_exactly_the_planted_twins(spark):
    """Every vector gets a doubled-direction plant; SemDeDup must drop
    exactly one of each twin pair (the plant, by the centroid-distance
    tie-break) and never a vector without a semantic duplicate —
    so per cell n_dropped == n_vectors/2 and kept == dropped."""
    from twawler_spark.training_queries import q_semdedup

    rows = q_semdedup(spark, SF).collect()
    assert rows
    total = sum(r.n_vectors for r in rows)
    dropped = sum(r.n_dropped for r in rows)
    assert total == 2 * dropped  # one survivor per twin pair
    for r in rows:
        assert r.n_kept + r.n_dropped == r.n_vectors
        assert r.n_dropped == r.n_vectors // 2, r


def test_dhash_shift_invariant_and_discriminative():
    """dHash property suite (no Spark): brightness-shifted twins hash
    identically for any id; the pooled decode path agrees with the
    closed-form block formula; distinct gradient patterns usually
    differ."""
    from twawler_spark.operators.multimodal import (
        dhash_bytes,
        gradient_brightness,
        make_gradient_bmp,
    )

    def oracle(doc_id):
        h = 0
        for by in range(8):
            for j in range(7):
                if gradient_brightness(doc_id, j + 1, by) > gradient_brightness(
                    doc_id, j, by
                ):
                    h |= 1 << (by * 7 + j)
        return h

    for i in range(0, 400, 7):
        base = dhash_bytes(make_gradient_bmp(i, 0))
        assert base == dhash_bytes(make_gradient_bmp(i, 8)), i
        assert base == oracle(i), i
    distinct = {dhash_bytes(make_gradient_bmp(i)) for i in range(64)}
    # comparison-pattern space is coarser than raw-brightness space,
    # but the family must stay far from constant
    assert len(distinct) > 16


def test_multimodal_batch_paths_byte_identical():
    """The vectorized batch builders/decoders (the r6 Arrow-batch hot
    paths) must be byte-identical to the scalar reference functions,
    and the batch decoders must reject non-uniform batches (fallback
    contract)."""
    from twawler_spark.operators.multimodal import (
        _audio_fp_batch,
        _dhash_batch,
        _make_gradient_bmp_batch,
        _make_tone_wav_batch,
        audio_fingerprint_bytes,
        dhash_bytes,
        make_gradient_bmp,
        make_tone_wav,
    )

    ids = list(range(0, 300, 7)) + [123456789, 2**31 - 1]
    for shift in (0, 8):
        for i, b in zip(ids, _make_gradient_bmp_batch(ids, shift)):
            assert b == make_gradient_bmp(i, shift), (i, shift)
    bufs = _make_gradient_bmp_batch(ids, 0)
    assert list(_dhash_batch(bufs)) == [dhash_bytes(b) for b in bufs]
    for gain in (0, 10):
        for i, b in zip(ids, _make_tone_wav_batch(ids, gain)):
            assert b == make_tone_wav(i, gain), (i, gain)
    wavs = _make_tone_wav_batch(ids, 0)
    assert list(_audio_fp_batch(wavs)) == [
        audio_fingerprint_bytes(b) for b in wavs
    ]
    assert _dhash_batch([b"xx"]) is None
    assert _audio_fp_batch([b"xxxx"]) is None


def test_media_phash_dedup_catches_all_plants(spark):
    """Every planted brightness-shifted twin must land in a bucket with
    its base image: total bucket membership covers all 2N images (every
    image has at least its twin), and no bucket is a singleton."""
    from twawler_spark.training_queries import q_media_phash_dedup

    rows = q_media_phash_dedup(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_images for r in rows) == 2 * n_docs
    assert all(r.n_images >= 2 for r in rows)


def test_sitemap_ingest_partitions_urls_exactly(spark):
    """Parsed locs must reproduce each host's full URL set (parse is
    lossless), and new+dupes must partition it (the seen third)."""
    from twawler_spark.entry_queries import q_sitemap_ingest

    rows = q_sitemap_ingest(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_new + r.n_dupes == r.n_locs, r
        assert 0 < r.n_dupes < r.n_locs  # the %3 seen slice is proper


def test_robots_parse_blocks_exactly_the_disallowed_spaces(spark):
    """Hosts h0-h4 carry the /page/ disallow rule: every one of their
    /page/ URLs is blocked and nothing else; other hosts block zero.
    Crawl-delay parses to 1 + hostnum % 7."""
    from twawler_spark.entry_queries import q_robots_parse

    rows = q_robots_parse(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 20
    for r in rows:
        n = int(r.host[1:])
        assert r.crawl_delay == 1 + n % 7, r
        if n < 5:
            assert r.n_rules == 2 and r.n_blocked > 0 and r.n_allowed == 0, r
        else:
            assert r.n_rules == 1 and r.n_blocked == 0 and r.n_allowed > 0, r


def test_audio_fp_gain_invariant_and_matches_formula():
    """Audio fingerprint property suite (no Spark): gain-shifted twins
    hash identically; the byte-decode path agrees with the closed-form
    window formula."""
    from twawler_spark.operators.multimodal import (
        AFP_WINDOWS,
        audio_fingerprint_bytes,
        make_tone_wav,
        tone_amplitude,
    )

    def oracle(i):
        fp = 0
        for w in range(AFP_WINDOWS - 1):
            if tone_amplitude(i, w + 1) > tone_amplitude(i, w):
                fp |= 1 << w
        return fp

    for i in range(0, 400, 7):
        base = audio_fingerprint_bytes(make_tone_wav(i, 0))
        assert base == audio_fingerprint_bytes(make_tone_wav(i, 10)), i
        assert base == oracle(i), i


def test_audio_fp_dedup_catches_all_plants(spark):
    """Every gain-shifted plant must bucket with its base clip: total
    bucket membership covers all 2N clips, no singleton buckets."""
    from twawler_spark.training_queries import q_audio_fp_dedup

    rows = q_audio_fp_dedup(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_clips for r in rows) == 2 * n_docs
    assert all(r.n_clips >= 2 for r in rows)


# --------------------------- round-5c: classifier / CDC / recrawl


def test_quality_classifier_keep_flag_is_exact_sign_test(spark):
    """sigmoid(x) >= 0.5 iff x >= 0, and x's numerator is an exact
    integer feature-weight sum — so the keep flag must equal the sign
    test on an independently computed integer sum for every doc.
    Verified on a recomputation in plain Python over the raw text."""
    import hashlib

    from twawler_spark.training_queries import QC_B, QC_BIAS, QC_W

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    kept = scored = 0
    for d in docs:
        toks = d.text.lower().split(" ")
        feats = [t for t in toks if t != ""] + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        if not feats:
            continue
        s = sum(
            QC_W[int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % QC_B]
            for f in feats
        )
        scored += 1
        if s / (len(feats) * 1000.0) + QC_BIAS >= 0:
            kept += 1
    from twawler_spark.training_queries import q_quality_classifier

    rows = q_quality_classifier(spark, SF).collect()
    assert sum(r.n_docs for r in rows) == scored
    assert sum(r.n_kept for r in rows) == kept
    assert 0 < kept < scored  # the gate actually separates


def test_dedup_cdc_realigns_after_prefix_insertion(spark):
    """The CDC claim: a prefix insertion leaves most content shared.
    Every planted _cdc companion and its original must be flagged
    (coverage >= 0.5), so per source n_flagged >= 2x the planted
    count whenever the plants dominate — lower-bound per source by
    planted originals + companions."""
    import duckdb

    from twawler_spark.training_queries import q_dedup_cdc

    rows = q_dedup_cdc(spark, SF).collect()
    con = duckdb.connect()
    planted = {
        r[0]: r[1]
        for r in con.sql(
            f"SELECT source, count(*) FROM read_parquet('{SF}/documents.parquet') "
            "WHERE doc_id % 4 = 0 GROUP BY source"
        ).fetchall()
    }
    assert sum(r.n_flagged for r in rows) > 0
    for r in rows:
        # companion always flagged; original flagged unless its first
        # (unshared) chunk exceeds half the doc — rare but possible on
        # short docs, so lower-bound by the companion count alone
        assert r.n_flagged >= planted.get(r.source, 0), r


def test_dedup_cdc_boundaries_content_defined():
    """Pure-python CDC reference: boundaries of 'qq zz ' + text are the
    original's boundaries shifted by 6 (plus possibly new ones in the
    first W+6 chars) — the realignment property fixed-stride windows
    lack."""
    from twawler_spark.training_queries import CDC_D, CDC_W, _CDC_POW

    def bounds(text):
        out = []
        for i in range(CDC_W, len(text)):  # 1-based pos i in [W, len-1]
            h = sum(
                ord(text[i - 1 - j]) * _CDC_POW[j] for j in range(CDC_W)
            )
            if h % CDC_D == 0:
                out.append(i)
        return out

    text = "the quick brown fox jumps over the lazy dog " * 4
    b0 = bounds(text)
    b1 = bounds("qq zz " + text)
    assert b0, "test string has no boundaries — pick another"
    shifted = {b + 6 for b in b0 if b >= CDC_W}
    assert shifted <= set(b1)  # every original boundary survives


def test_recrawl_schedule_budget_and_estimator(spark):
    """Per-host budget holds (<= RECRAWL_K rows, ranks 1..k dense) and
    the estimator is faithful: lambda recomputed from (n, x, span)
    matches, and staleness is monotone in rank within each host."""
    import math
    from collections import defaultdict

    from twawler_spark.coverage_queries import RECRAWL_K, q_recrawl_schedule

    rows = q_recrawl_schedule(spark, SF).collect()
    assert rows
    by_host = defaultdict(list)
    for r in rows:
        by_host[r.host].append(r)
    for host, rs in by_host.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= RECRAWL_K
        st = [r.staleness for r in rs]
        assert st == sorted(st, reverse=True), (host, st)
    # estimator faithfulness on one recomputed row
    e = spark.read.parquet(f"{SF}/events.parquet").collect()
    r = rows[0]
    evs = sorted(
        [x for x in e if x.user_id == r.user_id], key=lambda x: x.ts
    )
    n = len(evs)
    x = sum(1 for v in evs if v.event_type in ("purchase", "signup", "error"))
    span = int(evs[-1].ts.timestamp()) - int(evs[0].ts.timestamp())
    lam = -math.log((n - x + 0.5) / (n + 0.5)) / max(span / (n - 1.0), 1.0)
    assert r.n_visits == n and r.n_changed == x
    assert abs(r.lambda_per_day - round(lam * 86400, 6)) < 1e-6


def test_warc_ingest_gates_types_and_flags_truncation(spark):
    """Request records must be excluded from the response counts, and
    exactly the doc_id%11 planted short-Content-Length records must
    fail validation; valid payload chars equal the raw text lengths."""
    import duckdb

    from twawler_spark.entry_queries import q_warc_ingest

    rows = {r.host: r for r in q_warc_ingest(spark, SF).collect()}
    con = duckdb.connect()
    exp = con.sql(
        f"""
        SELECT 'h' || cast(doc_id % 20 as varchar) AS host,
               count(*) AS docs,
               sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS reqs,
               sum(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS bad,
               sum(CASE WHEN doc_id % 11 != 0 THEN length(text) ELSE 0 END)
                 AS good_chars
        FROM read_parquet('{SF}/documents.parquet') GROUP BY 1
        """
    ).fetchall()
    assert rows
    total_bad = 0
    for host, docs, reqs, bad, good_chars in exp:
        r = rows[host]
        assert r.n_records == docs + reqs, (host, r)
        assert r.n_responses == docs, (host, r)
        assert r.n_valid == docs - bad, (host, r)
        assert r.payload_chars == good_chars, (host, r)
        total_bad += bad
    assert total_bad > 0  # the truncation plant actually fired


def test_boilerplate_strip_finds_exactly_the_footers(spark):
    """Every host's planted footer line must be detected (its df equals
    the host's doc count); natural token-window lines stay under the
    0.5 fraction, so n_boiler_lines == 1 and boiler instances == docs
    per host — unless the corpus happens to repeat a window line in
    half a host's docs, which the lower bound tolerates."""
    import duckdb

    from twawler_spark.training_queries import q_boilerplate_strip

    rows = {r.host: r for r in q_boilerplate_strip(spark, SF).collect()}
    con = duckdb.connect()
    docs_per_host = {
        r[0]: r[1]
        for r in con.sql(
            f"SELECT 'h' || cast(doc_id % 20 as varchar), count(*) "
            f"FROM read_parquet('{SF}/documents.parquet') GROUP BY 1"
        ).fetchall()
    }
    assert rows
    for host, n in docs_per_host.items():
        r = rows[host]
        assert r.n_boiler_lines >= 1, (host, r)  # the footer
        assert r.n_boiler_instances >= n, (host, r)
        assert r.chars_removed >= n * len("footer nav contact about h0"), r


def test_dedup_containment_catches_interior_slices(spark):
    """Every planted _ct companion (interior token slice) must appear
    as a contained pair at containment 1.0 — the asymmetric case
    minhash resemblance misses. Per source, n_contained >= planted
    count; avg containment in (0, 1]."""
    import duckdb

    from twawler_spark.training_queries import q_dedup_containment

    rows = q_dedup_containment(spark, SF).collect()
    con = duckdb.connect()
    planted = {
        r[0]: r[1]
        for r in con.sql(
            f"SELECT source, count(*) FROM read_parquet('{SF}/documents.parquet') "
            "WHERE doc_id % 6 = 0 GROUP BY source"
        ).fetchall()
    }
    got = {r.src1: r for r in rows}
    assert sum(r.n_contained for r in rows) >= sum(planted.values())
    for src, cnt in planted.items():
        assert src in got and got[src].n_contained >= cnt, (src, cnt)
        assert 0 < got[src].avg_containment <= 1.0


def test_graph_harmonic_matches_python_bfs(spark):
    """Third implementation: plain-python BFS over the same synthetic
    mention edges must reproduce n_reached, harmonic, and closeness
    for every seed."""
    import duckdb
    from collections import deque

    from twawler_spark.coverage_queries import (
        BFS_CAP,
        BFS_SEEDS,
        q_graph_harmonic,
    )

    con = duckdb.connect()
    edges = con.sql(
        f"SELECT DISTINCT user_id, 1 + (event_id * 7) % 149 FROM "
        f"read_parquet('{SF}/events.parquet') "
        f"WHERE user_id != 1 + (event_id * 7) % 149"
    ).fetchall()
    adj = {}
    for s, t in edges:
        adj.setdefault(s, []).append(t)
    rows = {r.seed: r for r in q_graph_harmonic(spark, SF).collect()}
    for seed in BFS_SEEDS:
        dist = {seed: 0}
        q = deque([seed])
        while q:
            u = q.popleft()
            if dist[u] >= BFS_CAP:
                continue
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        reached = [d for n, d in dist.items() if d > 0]
        if not reached:
            assert seed not in rows
            continue
        r = rows[seed]
        assert r.n_reached == len(reached)
        assert abs(r.harmonic - round(sum(1.0 / d for d in reached), 4)) < 1e-9
        assert (
            abs(r.closeness - round(len(reached) / sum(reached), 6)) < 1e-9
        )


def test_span_corruption_accounting_identity(spark):
    """input_tokens + target_tokens == total_tokens + 2*n_spans (each
    span adds one sentinel to both sides), masked fraction lands near
    1/SC_MOD, and a python recomputation of one source's counters
    matches exactly."""
    import hashlib

    from twawler_spark.training_queries import (
        SC_MOD,
        SC_SPAN,
        q_span_corruption,
    )

    rows = q_span_corruption(spark, SF).collect()
    assert rows
    tot_m = tot_n = 0
    for r in rows:
        assert (
            r.input_tokens + r.target_tokens
            == r.total_tokens + 2 * r.n_spans
        ), r
        tot_m += r.masked_tokens
        tot_n += r.total_tokens
    frac = tot_m / tot_n
    assert 0.5 / SC_MOD < frac < 2.0 / SC_MOD  # near 1/7, loose band
    # exact recomputation for one source
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    src = rows[0].source
    n_docs = m = s = n_tok = 0
    for d in docs:
        if d.source != src:
            continue
        n = len(d.text.split(" "))
        n_docs += 1
        n_tok += n
        nb = -(-n // SC_SPAN)
        for b in range(nb):
            h = int(hashlib.md5(f"{d.doc_id}:{b}".encode()).hexdigest()[:15], 16)
            if h % SC_MOD == 0:
                m += min(SC_SPAN, n - b * SC_SPAN)
                s += 1
    r = [x for x in rows if x.source == src][0]
    assert (r.n_docs, r.total_tokens, r.masked_tokens, r.n_spans) == (
        n_docs, n_tok, m, s,
    )


def test_inverted_index_postings_consistent(spark):
    """df <= cf, doc-id range ordered, and one term's posting stats
    recomputed from the raw text match exactly."""
    from collections import Counter

    from twawler_spark.training_queries import IDX_MIN_DF, q_inverted_index_export

    rows = q_inverted_index_export(spark, SF).collect()
    assert rows
    for r in rows:
        assert IDX_MIN_DF <= r.df <= r.cf and r.first_doc <= r.last_doc
    probe = max(rows, key=lambda r: r.cf)
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    cf = 0
    dfs = set()
    first = last = None
    for d in docs:
        c = Counter(t for t in d.text.lower().split(" ") if t)
        if c[probe.term]:
            cf += c[probe.term]
            dfs.add(d.doc_id)
    assert (probe.df, probe.cf) == (len(dfs), cf)
    assert (probe.first_doc, probe.last_doc) == (min(dfs), max(dfs))


def test_bpe_merges_third_implementation(spark):
    """The learned merges must equal a plain-Python BPE trainer run on
    the same corpus (token-level pair counting, deterministic
    tie-break, greedy leftmost non-overlapping rewrite)."""
    from twawler_spark.training_queries import BPE_ITERS, q_bpe_merges

    docs = [
        r["text"].split()
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    ]
    docs = [[t for t in d if t] for d in docs]
    want = []
    for _ in range(BPE_ITERS):
        from collections import Counter

        cnt = Counter()
        for d in docs:
            for j in range(len(d) - 1):
                cnt[(d[j], d[j + 1])] += 1
        (a, b), n = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        out_docs = []
        for d in docs:
            nd, j = [], 0
            while j < len(d):
                if j + 1 < len(d) and d[j] == a and d[j + 1] == b:
                    nd.append(a + "_" + b)
                    j += 2
                else:
                    nd.append(d[j])
                    j += 1
            out_docs.append(nd)
        docs = out_docs
        want.append((a, b, n, sum(len(d) for d in docs)))
    rows = sorted(q_bpe_merges(spark, SF).collect(), key=lambda r: r["iter"])
    got = [
        (r["left_tok"], r["right_tok"], r["n_pairs"], r["corpus_tokens_after"])
        for r in rows
    ]
    assert got == want
    # merges must actually shrink the corpus, monotonically
    totals = [r["corpus_tokens_after"] for r in rows]
    assert all(x > y for x, y in zip(totals, totals[1:]))


def test_graph_hits_third_implementation(spark):
    """HITS scores must match a plain-python mutual-reinforcement loop
    (L1 normalization each half-step) to the rounding precision."""
    from twawler_spark.coverage_queries import HITS_ITERS, q_graph_hits

    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    edges = {
        (r["user_id"], 1 + (r["event_id"] * 7) % 149)
        for r in ev
        if r["user_id"] != 1 + (r["event_id"] * 7) % 149
    }
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    a = {n: 1.0 / len(nodes) for n in nodes}
    h = {}
    for _ in range(HITS_ITERS):
        h = {n: sum(a[t] for s, t in edges if s == n) for n in nodes}
        tot = sum(h.values())
        h = {n: v / tot for n, v in h.items()}
        a = {n: sum(h[s] for s, t in edges if t == n) for n in nodes}
        tot = sum(a.values())
        a = {n: v / tot for n, v in a.items()}
    rows = {r["id"]: r for r in q_graph_hits(spark, SF).collect()}
    assert set(rows) == set(nodes)
    for n in nodes:
        assert abs(rows[n]["hub"] - h[n]) < 2e-6, (n, rows[n]["hub"], h[n])
        assert abs(rows[n]["auth"] - a[n]) < 2e-6, (n, rows[n]["auth"], a[n])


def test_corpus_sample_exact_allocation(spark):
    """Every stratum selects exactly max(1, round(frac*n)) docs, and the
    selection equals the naive python sort-by-hash carve."""
    import hashlib

    from twawler_spark.training_queries import SAMPLE_FRAC, q_corpus_sample

    docs = [
        (r["source"], int(r["doc_id"]))
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    ]
    bysrc = {}
    for src, did in docs:
        key = int(hashlib.md5(f"smp:{did}".encode()).hexdigest()[:15], 16)
        bysrc.setdefault(src, []).append((key, did))
    rows = {r["source"]: r for r in q_corpus_sample(spark, SF).collect()}
    assert set(rows) == set(bysrc)
    for src, lst in bysrc.items():
        lst.sort()
        n_alloc = max(1, round(len(lst) * SAMPLE_FRAC))
        want = lst[:n_alloc]
        r = rows[src]
        assert r["n_docs"] == len(lst)
        assert r["n_alloc"] == r["n_selected"] == n_alloc
        assert r["sum_selected_ids"] == sum(d for _, d in want)


def test_bfs_min_depth_edge_semantics(spark):
    """Direct operator unit test: min-over-paths wins, seeds stay depth
    0 even when re-reachable, unreachable nodes are absent, and the
    loop drain-exits before max_depth without inventing levels."""
    from twawler_spark.operators.graph import bfs_min_depth

    #   1 -> 2 -> 3 -> 4      1 -> 4 (shortcut: depth(4) must be 1)
    #   3 -> 1 (back-edge to a seed: must stay depth 0)
    #   9 isolated (unreachable: absent)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (3, 1), (9, 9)],
        "src long, dst long",
    ).where("src != 9")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["depth"] for r in bfs_min_depth(seeds, edges, 10).collect()}
    assert got == {1: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_min_depth_bitmap_matches_join_form(spark):
    """The bounded-universe bitmap BFS must produce exactly the join
    form's (node, depth) surface: same shortcut/back-edge/unreachable
    semantics, duplicate edges absorbed, depth cap respected."""
    from twawler_spark.operators.graph import bfs_min_depth, bfs_min_depth_bitmap

    rows = [(1, 2), (2, 3), (3, 4), (1, 4), (3, 1), (2, 3), (4, 6), (6, 7)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    seeds_df = spark.createDataFrame([(1,), (7,)], "node long")
    for cap in (1, 2, 10):
        want = {
            (r["node"], r["depth"])
            for r in bfs_min_depth(seeds_df, edges, cap).collect()
        }
        got = {
            (r["node"], r["depth"])
            for r in bfs_min_depth_bitmap([1, 7], edges, cap, 16).collect()
        }
        assert got == want, cap


def test_bfs_min_depth_bitmap_rejects_out_of_universe_seeds(spark):
    """A seed outside [0, n_nodes) is a contract violation: it raises
    instead of being dropped from the (node, depth) surface."""
    import pytest

    from twawler_spark.operators.graph import bfs_min_depth_bitmap

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    for seeds in ([1, 16], [-1], [1, 99]):
        with pytest.raises(ValueError, match="outside the node universe"):
            bfs_min_depth_bitmap(seeds, edges, 3, 16)
    got = {(r["node"], r["depth"]) for r in bfs_min_depth_bitmap([1, 15], edges, 3, 16).collect()}
    assert got == {(1, 0), (2, 1), (3, 2), (15, 0)}


def test_dust_key2_param_positions(spark):
    """The canonicalize-with-param-stripped key must behave at every
    param position: first, middle, last, and when stripping empties the
    param list entirely."""
    from pyspark.sql import functions as F

    urls = spark.createDataFrame(
        [
            ("https://h/p?page=1&sid=2&ref=3",),
            ("https://h/p?sid=9",),
        ],
        "url string",
    )

    def key2(k):
        path = F.split(F.col("url"), "\\?").getItem(0)
        kvs = F.split(F.split(F.col("url"), "\\?").getItem(1), "&")
        kept = F.filter(kvs, lambda x: ~x.startswith(k + "="))
        return F.concat(path, F.lit("|"), F.array_join(F.array_sort(kept), "&"))

    rows = urls.select(
        key2("page").alias("nopage"),
        key2("sid").alias("nosid"),
        key2("ref").alias("noref"),
    ).collect()
    assert rows[0]["nopage"] == "https://h/p|ref=3&sid=2"
    assert rows[0]["nosid"] == "https://h/p|page=1&ref=3"
    assert rows[0]["noref"] == "https://h/p|page=1&sid=2"
    assert rows[1]["nosid"] == "https://h/p|"
    assert rows[1]["nopage"] == "https://h/p|sid=9"


def test_ivf_balance_identities(spark):
    """Cell populations must sum to the corpus size, load factors must
    average exactly 1 (mass conservation), every centroid's own cell
    contains it with cos 1.0 (so max avg_cos sanity), and the
    assignment histogram matches a numpy argmax recomputation."""
    import numpy as np

    from twawler_spark.training_queries import IVF_CENTROID_MOD, q_ivf_balance

    emb = {
        int(r["vec_id"]): np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    cents = {i: v for i, v in emb.items() if i % IVF_CENTROID_MOD == 0}
    cids = sorted(cents)
    want = {}
    for i, v in emb.items():
        sims = [(v @ cents[c]) / (np.linalg.norm(v) * np.linalg.norm(cents[c]))
                for c in cids]
        best = cids[int(np.argmax(sims))]
        want[best] = want.get(best, 0) + 1
    rows = {r["cell"]: r for r in q_ivf_balance(spark, SF).collect()}
    assert {c: r["n_vectors"] for c, r in rows.items()} == want
    assert sum(r["n_vectors"] for r in rows.values()) == len(emb)
    # mean load factor over the non-empty cells is exactly 1 by
    # construction (sum(n_i * nc / nt) / nc == 1), up to the 4dp rounding
    assert abs(sum(r["load_factor"] for r in rows.values()) / len(rows) - 1.0) < 1e-3
    for r in rows.values():
        assert r["min_cos"] <= r["avg_cos"] <= 1.0


def test_bpe_encoding_replace_is_greedy_merge():
    """Property test of the encoding trick bpe_merges relies on: for
    ANY token sequence and any merge pair, leftmost non-overlapping
    string replace over the double-space encoding equals the greedy
    token-level BPE merge — including consecutive occurrences
    ('a b a b' merges twice) and self-overlaps ('l l l' merges once).
    python str.replace has the same leftmost non-overlapping semantics
    as Spark's F.replace and DuckDB's replace()."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    tok = st.sampled_from(["a", "b", "l", "xy"])

    def greedy(toks, a, b):
        out, j = [], 0
        while j < len(toks):
            if j + 1 < len(toks) and toks[j] == a and toks[j + 1] == b:
                out.append(a + "_" + b)
                j += 2
            else:
                out.append(toks[j])
                j += 1
        return out

    @settings(max_examples=300, deadline=None)
    @given(toks=st.lists(tok, min_size=0, max_size=12), a=tok, b=tok)
    def prop(toks, a, b):
        seq = "  " + "  ".join(toks) + "  "
        rewritten = seq.replace(f" {a}  {b} ", f" {a}_{b} ")
        got = [t for t in rewritten.strip().split("  ") if t]
        assert got == greedy(toks, a, b), (toks, a, b, got)

    prop()


def test_word_bursts_third_implementation(spark):
    """Burst rows must equal a plain-python recomputation from the
    collected daily series (trailing window mean/std, z threshold)."""
    from twawler_spark.coverage_queries import (
        BURST_MIN_HIST,
        BURST_WIN,
        BURST_Z,
        q_word_bursts,
        q_word_daily_series,
    )

    series = {}
    for r in q_word_daily_series(spark, SF).collect():
        series.setdefault(r["word"], []).append((r["day"], r["n_docs"]))
    want = set()
    for word, days in series.items():
        days.sort()
        for i, (day, n) in enumerate(days):
            hist = [v for _, v in days[max(0, i - BURST_WIN) : i]]
            if len(hist) < BURST_MIN_HIST:
                continue
            mean = sum(hist) / len(hist)
            var = max(sum(v * v for v in hist) / len(hist) - mean * mean, 0)
            z = (n - mean) / max(var ** 0.5, 0.5)
            if z >= BURST_Z:
                want.add((word, day, n))
    got = {
        (r["word"], r["day"], r["n_docs"]) for r in q_word_bursts(spark, SF).collect()
    }
    assert got == want and got
