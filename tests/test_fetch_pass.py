"""The fetch stage: docspec's array kernels against a scalar restatement
of the spec, and the one Arrow fetch pass (plans/fetcher.fetch) against
the scalar docspec, row by row, plus its plan shape."""

from __future__ import annotations

import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from twawler_spark import docspec
from twawler_spark.hashing import stream64, to_unsigned64

from .conftest import N_HOSTS

INT64_MIN, INT64_MAX = -(2**63), 2**63 - 1
ROUND_NO = 3

# edge values first, so every drawn list is likely to hit some of them
_HASH = st.one_of(
    st.sampled_from([INT64_MIN, -1, 0, INT64_MAX, INT64_MIN + 1, 1]),
    st.integers(min_value=INT64_MIN, max_value=INT64_MAX),
)


def _spec(uh: int, round_no: int, n_hosts: int):
    """The fetch spec restated with the scalar ``hashing.stream64``:
    (status, doc keys, [(url, anchor)])."""
    u = to_unsigned64(uh)
    r = stream64(u, docspec._S_STATUS) % 100
    status = 200 if r < 88 else 404 if r < 92 else 429 if r < 96 else 403
    ok = status == 200
    nd = 1 + stream64(u, docspec._S_NDOCS) % docspec.MAX_DOCS_PER_FETCH if ok else 0
    keys = [stream64(u, docspec._S_DOCKEY, (round_no << 8) | j) for j in range(nd)]
    n_out = stream64(u, docspec._S_NOUT) % (docspec.MAX_OUTLINKS + 1) if ok else 0
    links = [
        (
            f"https://h{stream64(u, docspec._S_OUTHOST, j) % n_hosts}"
            f".example.com/o/{stream64(u, docspec._S_OUTID, j) % (1 << 48)}",
            docspec.VOCAB[stream64(u, docspec._S_ANCHOR, j) % len(docspec.VOCAB)],
        )
        for j in range(n_out)
    ]
    return status, keys, links


def _spans_spec(doc_key: int) -> list[tuple]:
    """The span sequence of one document, restated with ``stream64``."""
    spans = []
    for k in range(1 + stream64(doc_key, docspec._S_NSPANS) % docspec.MAX_SPANS):
        if stream64(doc_key, docspec._S_KIND, k) % 3 < 2:
            nw = 1 + stream64(doc_key, docspec._S_NWORDS, k) % docspec.MAX_WORDS
            words = [
                docspec.VOCAB[stream64(doc_key, docspec._S_WORD, k * 16 + t) % len(docspec.VOCAB)]
                for t in range(nw)
            ]
            spans.append(("text", " ".join(words), None, k))
        else:
            media = stream64(doc_key, docspec._S_MEDIA, k) % (1 << 48)
            spans.append(("media", None, "m%012x" % media, k))
    return spans


def _backfill(status: int, first_id: int | None, reached: bool) -> tuple[int, bool]:
    f = first_id or 0
    if status == 200 and not reached:
        f = max(f - docspec.BACKFILL_STEP, 0)
        return f, f == 0
    return f, reached


@given(
    st.lists(
        st.tuples(_HASH, st.integers(min_value=0, max_value=10), st.booleans()),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=200),
    st.integers(min_value=1, max_value=1000),
)
@settings(max_examples=150, deadline=None)
def test_array_kernels_match_scalar_spec(rows, round_no, n_hosts):
    uh = np.array([r[0] for r in rows], dtype=np.int64)
    first = np.array([r[1] for r in rows], dtype=np.int64)
    reached = np.array([r[2] for r in rows], dtype=bool)
    spec = [_spec(int(h), round_no, n_hosts) for h in uh]

    status = docspec.status_array(uh)
    n_docs = docspec.n_docs_array(uh, status)
    assert status.tolist() == [s for s, _, _ in spec]
    assert n_docs.tolist() == [len(k) for _, k, _ in spec]
    keys = docspec.doc_keys_array(uh, n_docs, round_no)
    assert keys.tolist() == [k for _, ks, _ in spec for k in ks]
    assert docspec.doc_ids(keys).to_pylist() == ["d%016x" % k for _, ks, _ in spec for k in ks]
    n_spans, offset, is_text, text, media = docspec.spans_array(keys)
    want = [sp for _, ks, _ in spec for k in ks for sp in _spans_spec(k)]
    assert n_spans.tolist() == [len(_spans_spec(k)) for _, ks, _ in spec for k in ks]
    assert [
        ("text", t, None, o) if it else ("media", None, m, o)
        for o, it, t, m in zip(offset, is_text, text.to_pylist(), media.to_pylist())
    ] == want
    n_out, urls, anchors = docspec.outlinks_array(uh, status, n_hosts)
    assert n_out.tolist() == [len(ls) for _, _, ls in spec]
    assert list(zip(urls.to_pylist(), anchors.to_pylist())) == [l for _, _, ls in spec for l in ls]
    new_first, new_reached = docspec.backfill_array(status, first, reached)
    assert list(zip(new_first.tolist(), new_reached.tolist())) == [
        _backfill(s, f, r) for (s, _, _), (_, f, r) in zip(spec, rows)
    ]

    # the scalar API is a one-element wrapper over the same kernels
    for h, (s, ks, ls) in zip(uh.tolist(), spec):
        assert docspec.fetch_status(h) == s
        assert docspec.n_docs(h) == len(ks)
        assert docspec.synth_docs(h, round_no) == [("d%016x" % k, _spans_spec(k)) for k in ks]
        assert docspec.outlinks_anchored(h, n_hosts) == ls
        assert docspec.outlinks(h, n_hosts) == [u for u, _ in ls]


def _small_plan(spark):
    """~240 plan rows over three partitions: edge hashes, null
    checkpoints, exhausted backfills and first_id below BACKFILL_STEP."""
    rng = np.random.default_rng(7)
    hashes = [INT64_MIN, -1, 0, INT64_MAX] + rng.integers(
        INT64_MIN, INT64_MAX, 236, dtype=np.int64
    ).tolist()
    rows = []
    for i, uh in enumerate(hashes):
        last_id = None if i % 5 == 0 else int(rng.integers(0, 1000))
        first_id = None if i % 7 == 0 else i % (2 * docspec.BACKFILL_STEP)
        rows.append((uh, f"h{i % 9}.example.com", last_id, first_id, i % 4 == 0, i // 9 + 1))
    schema = (
        "url_hash long, host string, last_id long, first_id long, "
        "reached boolean, fetch_rank long"
    )
    return spark.createDataFrame(rows, schema).repartition(3), rows


def test_fetch_pass_matches_scalar_docspec(spark):
    from twawler_spark.plans.fetcher import fetch

    plan, rows = _small_plan(spark)
    got = {r["url_hash"]: r for r in fetch(plan, ROUND_NO, N_HOSTS).collect()}
    assert len(got) == len(rows)
    cases = {"null_first": 0, "reached": 0, "floor": 0, "ok": 0}
    for uh, host, last_id, first_id, reached, rank in rows:
        r = got[uh]
        status = docspec.fetch_status(uh)
        new_first, new_reached = _backfill(status, first_id, reached)
        assert (r["host"], r["status"], r["n_docs"]) == (host, status, docspec.n_docs(uh))
        assert r["new_last_id"] == (last_id or 0) + docspec.n_docs(uh)
        assert (r["new_first_id"], r["new_reached"]) == (new_first, new_reached)
        assert r["fetch_rank"] == rank
        docs = [
            (d["doc_id"], [tuple(s) for s in d["spans"]]) for d in r["docs"]
        ]
        assert docs == docspec.synth_docs(uh, ROUND_NO)
        assert list(r["outlinks"]) == docspec.outlinks(uh, N_HOSTS)
        cases["null_first"] += first_id is None
        cases["reached"] += reached and status == 200
        cases["floor"] += (
            status == 200 and not reached
            and first_id is not None and 0 < first_id < docspec.BACKFILL_STEP
        )
        cases["ok"] += status == 200
    assert all(cases.values()), cases


_PYTHON_NODES = (
    "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
)


def _plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _python_nodes(text: str) -> int:
    return sum(text.count(node) for node in _PYTHON_NODES)


def _shuffles(text: str, node: str) -> list[str]:
    """Exchange lines at or under the first ``node`` of a plan tree string,
    leaving out those under a BroadcastExchange (a broadcast side's own
    shuffle never moves the rows the node reads)."""
    lines = text.splitlines()
    start = next(i for i, line in enumerate(lines) if node in line)

    def col(line):
        return re.match(r"[ :+\-]*", line).end()

    out, skip_below = [], None
    for line in lines[start:]:
        c = col(line)
        if line is not lines[start] and c <= col(lines[start]):
            break
        if skip_below is not None and c > skip_below:
            continue
        skip_below = c if line[c:].startswith("BroadcastExchange") else None
        if line[c:].startswith("Exchange"):
            out.append(line[c:])
    return out


def test_fetch_pass_plan_shape(spark):
    """The fetch pass is one Python node with no exchange; everything
    the round derives from its checkpoint runs in the JVM."""
    from pyspark.sql import functions as F

    from twawler_spark.plans.fetcher import documents_of, fetch, outlinks_of, results_of

    plan, _ = _small_plan(spark)
    plan = plan.localCheckpoint(eager=True)
    fused = fetch(plan, ROUND_NO, N_HOSTS)
    text = _plan_text(fused)
    assert text.count("MapInArrow") == 1, text
    assert "Exchange" not in text, text

    fetched = fused.localCheckpoint(eager=True)
    # the same projections run_round appends and checkpoints
    links = outlinks_of(fetched).withColumn("url_hash", F.xxhash64("url"))
    derived = {
        "documents": documents_of(fetched, ROUND_NO).dropDuplicates(["doc_id"]),
        "results": results_of(fetched),
        "follow_edges": links.select("src_hash", F.col("url_hash").alias("dst_hash"))
        .dropDuplicates(["src_hash", "dst_hash"]),
        "cands": links.dropDuplicates(["url_hash"]),
    }
    for name, df in derived.items():
        text = _plan_text(df)
        assert _python_nodes(text) == 0, (name, text)
    assert derived["documents"].count() == sum(
        len(docspec.synth_docs(r["url_hash"], ROUND_NO)) for r in fetched.collect()
    )


def test_run_round_runs_one_python_fetch_pass(spark, crawl_root, tmp_path, monkeypatch):
    """run_round checkpoints plan -> fetch -> cands -> admitted. The fetch
    checkpoint holds the round's only fetch Python node, with no exchange
    ahead of it. The plan checkpoint holds one Python node, the per-host
    top-K cut, with no shuffle under it: its one shuffle is the ranking
    exchange on host, above the cut. The candidate checkpoint and the
    documents, crawl-order and follow-edge appends run no Python."""
    from pyspark.sql.classic.dataframe import DataFrame

    from twawler_spark.io_catalog import Catalog
    from twawler_spark.plans.round import bootstrap, run_round

    root = str(tmp_path)
    cat = Catalog(spark, root)
    for name in ("frontier_seed", "seen_seed", "host_budget", "robots"):
        spark.read.parquet(f"{crawl_root}/{name}").write.parquet(f"{root}/{name}")
    bootstrap(cat, cat.read_input("frontier_seed"), cat.read_input("seen_seed"))

    checkpoints, appends = [], {}
    raw_checkpoint, raw_append = DataFrame.localCheckpoint, Catalog.append

    def checkpoint(self, *args, **kwargs):
        checkpoints.append(_plan_text(self))
        return raw_checkpoint(self, *args, **kwargs)

    def append(self, df, table, round_no):
        appends[table] = _plan_text(df)
        return raw_append(self, df, table, round_no)

    monkeypatch.setattr(DataFrame, "localCheckpoint", checkpoint)
    monkeypatch.setattr(Catalog, "append", append)
    run_round(cat, 1, N_HOSTS)

    assert len(checkpoints) == 4
    plan, fetched, cands, _admitted = checkpoints
    assert fetched.count("MapInArrow") == 1 and _python_nodes(fetched) == 1, fetched
    assert "Exchange" not in fetched, fetched
    assert plan.count("MapInArrow") == 1 and _python_nodes(plan) == 1, plan
    assert _shuffles(plan, "MapInArrow") == [], plan
    shuffles = _shuffles(plan, plan.splitlines()[0])
    assert len(shuffles) == 1 and shuffles[0].startswith("Exchange hashpartitioning(host"), plan
    for name, text in [("cands", cands)] + [
        (t, appends[t]) for t in ("documents", "crawl_order", "follow_edges")
    ]:
        assert _python_nodes(text) == 0, (name, text)
