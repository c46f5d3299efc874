"""Simulated fetch stage — one Arrow pass over the fetch plan.

Reference: twkit/crawler/dumpall.py:23-92 pages each scheduled user's
timeline (200/page), inserts tweets dup-tolerantly, advances the
``crawlerdata.lastid`` checkpoint and discovers follow links from what
it fetched.

``fetch`` is that loop as ONE non-grouped ``mapInArrow`` over the plan
(at most sum(host budgets) rows per round): per plan URL it returns the
FETCH_RESULT columns, ``fetch_rank``, the fetched documents (``docs``:
doc_id plus spans) and the discovered outlink URLs (``outlinks``), all
computed batch-wide by the ``docspec`` array kernels. Nothing is keyed
by host, so no exchange runs ahead of the pass. The round checkpoints
its output once and derives documents, results and outlinks from the
checkpoint with JVM-only select/explode (``documents_of``,
``results_of``, ``outlinks_of``), so no consumer re-runs Python.

``fetch_documents``, ``fetch_results`` and ``discover_outlinks(_anchored)``
are the query tier's entry points: thin wrappers over the same kernels.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import docspec
from ..schemas import DOCUMENTS, FETCH_RESULT

_DOC = T.StructType([DOCUMENTS["doc_id"], DOCUMENTS["spans"]])

# one row per plan URL (the ``fetch`` output)
FETCH = T.StructType(
    FETCH_RESULT.fields
    + [
        T.StructField("fetch_rank", T.IntegerType(), False),
        T.StructField("docs", T.ArrayType(_DOC, False), False),
        T.StructField("outlinks", T.ArrayType(T.StringType(), False), False),
    ]
)


def _lists(counts: np.ndarray, values: pa.Array, list_type: pa.DataType) -> pa.Array:
    """List array whose row i holds the next counts[i] of ``values``."""
    offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), values, type=list_type)


def _docs(uh: np.ndarray, n_docs: np.ndarray, round_no: int, docs_type) -> pa.Array:
    keys = docspec.doc_keys_array(uh, n_docs, round_no)
    n_spans, offset, is_text, text, media = docspec.spans_array(keys)
    doc_type = docs_type.value_type
    spans_type = doc_type.field("spans").type
    is_text = pa.array(is_text)
    spans = pa.StructArray.from_arrays(
        [
            pc.if_else(is_text, "text", "media"),
            pc.if_else(is_text, text, None),
            pc.if_else(is_text, None, media),
            pa.array(offset, pa.int32()),
        ],
        fields=list(spans_type.value_type),
    )
    doc = pa.StructArray.from_arrays(
        [docspec.doc_ids(keys), _lists(n_spans, spans, spans_type)],
        fields=list(doc_type),
    )
    return _lists(n_docs, doc, docs_type)


def _fetch_batch(
    batch: pa.RecordBatch, round_no: int | None, n_hosts: int | None, schema: pa.Schema
) -> pa.RecordBatch:
    uh = batch.column("url_hash").to_numpy()
    status = docspec.status_array(uh)
    n_docs = docspec.n_docs_array(uh, status)
    first, reached = docspec.backfill_array(
        status,
        pc.fill_null(batch.column("first_id"), 0).to_numpy(),
        pc.fill_null(batch.column("reached"), False).to_numpy(zero_copy_only=False),
    )
    docs_type = schema.field("docs").type
    links_type = schema.field("outlinks").type
    none = np.zeros(len(uh), dtype=np.int32)
    if round_no is None:
        docs = _lists(none, pa.array([], docs_type.value_type), docs_type)
    else:
        docs = _docs(uh, n_docs, round_no, docs_type)
    if n_hosts is None:
        links = _lists(none, pa.array([], pa.string()), links_type)
    else:
        n_out, urls, _anchors = docspec.outlinks_array(uh, status, n_hosts)
        links = _lists(n_out, urls, links_type)
    return pa.RecordBatch.from_arrays(
        [
            batch.column("url_hash"),
            batch.column("host"),
            pa.array(status),
            pa.array(n_docs),
            pa.array(pc.fill_null(batch.column("last_id"), 0).to_numpy() + n_docs),
            pa.array(first),
            pa.array(reached),
            batch.column("fetch_rank"),
            docs,
            links,
        ],
        schema=schema,
    )


def fetch(plan: DataFrame, round_no: int | None = None, n_hosts: int | None = None) -> DataFrame:
    """plan (url_hash, host, last_id, first_id, reached, fetch_rank) ->
    one FETCH row per plan URL, in one Arrow pass with no exchange.

    Status, docs fetched, forward checkpoint advance (dumpall.py:83-87)
    and backward-backfill progress (load-past.py:69-77) are always
    computed; ``docs`` is filled only when ``round_no`` is given and
    ``outlinks`` only when ``n_hosts`` is given (else empty lists).
    ``fetch_rank`` is cast to DOCUMENTS' int here, once: the plan's is a
    long (it comes from a summed window)."""
    schema = to_arrow_schema(FETCH)

    def run(batches):
        for batch in batches:
            yield _fetch_batch(batch, round_no, n_hosts, schema)

    return plan.select(
        "url_hash", "host", "last_id", "first_id", "reached",
        F.col("fetch_rank").cast("int").alias("fetch_rank"),
    ).mapInArrow(run, FETCH)


def results_of(fetched: DataFrame) -> DataFrame:
    """FETCH_RESULT rows of a ``fetch`` output."""
    return fetched.select(*FETCH_RESULT.fieldNames())


def documents_of(fetched: DataFrame, round_no: int) -> DataFrame:
    """DOCUMENTS rows of a ``fetch`` output (one per fetched document)."""
    return fetched.select(
        "url_hash", "host", "fetch_rank", F.explode("docs").alias("d")
    ).select(
        "d.doc_id", "d.spans", "url_hash", "host",
        F.lit(round_no).alias("round"), "fetch_rank",
    )


def outlinks_of(fetched: DataFrame) -> DataFrame:
    """(src_hash, url) per discovered outlink of a ``fetch`` output."""
    return fetched.select(
        F.col("url_hash").alias("src_hash"), F.explode("outlinks").alias("url")
    )


def fetch_documents(plan: DataFrame, round_no: int) -> DataFrame:
    """plan (url_hash, host, fetch_rank, ...) -> DOCUMENTS rows."""
    return documents_of(fetch(plan, round_no=round_no), round_no)


def fetch_results(plan: DataFrame) -> DataFrame:
    """plan -> FETCH_RESULT rows, one per scheduled URL."""
    return results_of(fetch(plan))


def discover_outlinks(results: DataFrame, n_hosts: int) -> DataFrame:
    """(src_hash, url) per outlink of every status-200 row of ``results``
    — equal to ``docspec.outlinks`` of each source."""
    if "host" not in results.columns:
        results = results.withColumn("host", F.lit(""))
    return discover_outlinks_anchored(results, n_hosts).select("src_hash", "url")


def discover_outlinks_anchored(results: DataFrame, n_hosts: int) -> DataFrame:
    """Outlink expansion carrying the source host and the link's anchor
    word (docspec.outlinks_anchored) — the input of anchor-text
    aggregation and host-graph construction. One Arrow pass over
    ``results`` (at most plan size) with the ``docspec.outlinks_array``
    kernel."""

    def run(batches):
        for batch in batches:
            uh = batch.column("url_hash").to_numpy()
            n_out, urls, anchors = docspec.outlinks_array(
                uh, batch.column("status").to_numpy(), n_hosts
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(uh, n_out)),
                    batch.column("host").take(np.repeat(np.arange(len(uh)), n_out)),
                    urls,
                    anchors,
                ],
                names=["src_hash", "src_host", "url", "anchor"],
            )

    return results.select("url_hash", "host", "status").mapInArrow(
        run, "src_hash long, src_host string, url string, anchor string"
    )
