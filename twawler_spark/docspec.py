"""Deterministic synthetic-fetch specification.

The sandbox has no network, so the "fetch" of a scheduled URL is a pure
function of its 64-bit url_hash — the same stand-in the reference's
correctness story needs (its real fetches are Twitter API calls; the
rebuild's invariants are about scheduling, dedup, state transitions and
span-sequence fidelity, not HTTP).

This module is the single source of truth for that function. It is
array-first: status, document count, backfill step, document keys, span
sequences and outlinks are kernels over ``url_hash`` arrays
(``*_array``), numpy arithmetic on ``hashing.np_stream64`` with the
strings built as Arrow arrays. The Spark fetcher (plans/fetcher.py, one
Arrow pass over the plan) calls the kernels on whole batches; the scalar
functions (``fetch_status``, ``n_docs``, ``synth_docs``,
``outlinks_anchored``) are one-element wrappers over the same kernels,
used by the sequential reference simulator (reference_sim.py). Per-row
span-sequence equality therefore verifies that the distributed pipeline
(Arrow batching, nested-array parquet IO) preserves every (kind, text,
media_ref, order) sequence exactly.

Statuses mirror the reference's error-driven state machine
(twkit/utils.py:496-554 ``handle_twitter_error``):
  200 -> ok (docs emitted, checkpoint advances)
  404 -> dead      (code 50/34: bury,   utils.py:430-446)
  403 -> protected (code 179: protect,  utils.py:385-388)
  429 -> suspended (code 63/88: suspend/back off, utils.py:351-366)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .hashing import np_stream64, to_signed64, to_unsigned64

# stream ids (keep stable — they define the data)
_S_STATUS = 1
_S_NDOCS = 2
_S_DOCKEY = 3
_S_NSPANS = 4
_S_KIND = 5
_S_WORD = 6
_S_NWORDS = 7
_S_MEDIA = 8
_S_NOUT = 11
_S_OUTHOST = 12
_S_OUTID = 13
_S_ANCHOR = 14

VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "crawl", "frontier", "span", "media", "fetch",
    "budget",
]
_V = len(VOCAB)

MAX_DOCS_PER_FETCH = 4
MAX_SPANS = 8
MAX_WORDS = 6
MAX_OUTLINKS = 3
BACKFILL_STEP = 3  # first_id decrement per successful fetch (load-past paging)


# ------------------------------------------------------------ array kernels
# Every kernel takes an int64 ``url_hash`` array (Spark's signed LongType);
# flat per-item outputs are grouped by input row, in input order.


# status by percentile: [0, 88) ok, [88, 92) dead, [92, 96) suspended, else protected
_STATUS_CUTS = np.array([88, 92, 96], dtype=np.uint64)
_STATUS_CODES = np.array([200, 404, 429, 403], dtype=np.int32)


def status_array(url_hash: np.ndarray) -> np.ndarray:
    """int32 fetch status (200/404/429/403) per url_hash."""
    r = np_stream64(url_hash, _S_STATUS) % np.uint64(100)
    return _STATUS_CODES[np.searchsorted(_STATUS_CUTS, r, side="right")]


def n_docs_array(url_hash: np.ndarray, status: np.ndarray) -> np.ndarray:
    """int32 documents per fetch: 1..MAX_DOCS_PER_FETCH on status 200, else 0."""
    nd = 1 + np_stream64(url_hash, _S_NDOCS) % np.uint64(MAX_DOCS_PER_FETCH)
    return np.where(status == 200, nd, 0).astype(np.int32)


def backfill_array(
    status: np.ndarray, first_id: np.ndarray, reached: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(new_first_id, new_reached): a successful fetch of a URL whose
    backfill is not yet exhausted pages first_id BACKFILL_STEP toward 0
    (load-past.py:69-77); reaching 0 marks it exhausted."""
    step = (status == 200) & ~reached
    first = np.where(step, np.maximum(first_id - BACKFILL_STEP, 0), first_id)
    return first, np.where(step, first == 0, reached)


def _item_index(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(row, j) for every item when row i owns counts[i] items."""
    row = np.repeat(np.arange(len(counts)), counts)
    starts = np.cumsum(counts) - counts
    return row, np.arange(len(row)) - starts[row]


def doc_keys_array(url_hash: np.ndarray, n_docs: np.ndarray, round_no: int) -> np.ndarray:
    """uint64 document keys, n_docs[i] for row i. Keyed by (url_hash,
    round, j): a refetch in a later round yields the NEW documents since
    the checkpoint (dumpall.py since_id semantics), not duplicates."""
    row, j = _item_index(n_docs)
    return np_stream64(url_hash[row], _S_DOCKEY, (round_no << 8) | j)


_HEX_DIGITS = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
_VOCAB = pa.array(VOCAB)


def _hex(prefix: str, values: np.ndarray, width: int) -> pa.Array:
    """``prefix`` + ``width`` zero-padded lower-case hex digits per value."""
    n = len(values)
    chars = np.empty((n, 1 + width), dtype=np.uint8)
    chars[:, 0] = ord(prefix)
    shifts = np.arange(4 * (width - 1), -1, -4, dtype=np.uint64)
    nibbles = (values.astype(np.uint64)[:, None] >> shifts) & np.uint64(15)
    chars[:, 1:] = _HEX_DIGITS[nibbles.astype(np.intp)]
    offsets = np.arange(0, (n + 1) * (1 + width), 1 + width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offsets), pa.py_buffer(chars)]
    )


def doc_ids(doc_keys: np.ndarray) -> pa.Array:
    """'d' + 16 lower-case hex digits per document key."""
    return _hex("d", doc_keys, 16)


def spans_array(
    doc_keys: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, pa.Array, pa.Array]:
    """(n_spans, offset, is_text, text, media_ref): document i has
    n_spans[i] interleaved spans at offsets 0..n_spans[i]-1. A span is
    text (a space-joined run of 1..MAX_WORDS vocabulary words) where
    ``is_text``, else a media reference 'm' + 12 hex digits; the other
    of ``text`` / ``media_ref`` is meaningless for that span."""
    n_spans = (1 + np_stream64(doc_keys, _S_NSPANS) % np.uint64(MAX_SPANS)).astype(np.int64)
    row, k = _item_index(n_spans)
    key = doc_keys[row]
    is_text = np_stream64(key, _S_KIND, k) % np.uint64(3) < 2
    n_words = (1 + np_stream64(key, _S_NWORDS, k) % np.uint64(MAX_WORDS)).astype(np.int64)
    span, t = _item_index(n_words)
    word = np_stream64(key[span], _S_WORD, k[span] * 16 + t) % np.uint64(_V)
    offsets = np.zeros(len(key) + 1, dtype=np.int32)
    np.cumsum(n_words, out=offsets[1:])
    words = pa.ListArray.from_arrays(pa.array(offsets), _VOCAB.take(word))
    text = pc.binary_join(words, " ")
    media = _hex("m", np_stream64(key, _S_MEDIA, k) % np.uint64(1 << 48), 12)
    return n_spans, k, is_text, text, media


def outlinks_array(
    url_hash: np.ndarray, status: np.ndarray, n_hosts: int
) -> tuple[np.ndarray, pa.Array, pa.Array]:
    """(n_out, urls, anchors): row i discovers n_out[i] outlinks (0 unless
    status 200); ``urls`` are canonical outlink URLs and ``anchors`` the
    source page's link word for each (an independent stream, so it never
    perturbs the url identity the seen-set invariants key on)."""
    n_out = np_stream64(url_hash, _S_NOUT) % np.uint64(MAX_OUTLINKS + 1)
    n_out = np.where(status == 200, n_out, 0).astype(np.int64)
    row, j = _item_index(n_out)
    src = url_hash[row]
    host = np_stream64(src, _S_OUTHOST, j) % np.uint64(n_hosts)
    oid = np_stream64(src, _S_OUTID, j) % np.uint64(1 << 48)
    anchor = np_stream64(src, _S_ANCHOR, j) % np.uint64(_V)
    urls = pc.binary_join_element_wise(
        "https://h", pa.array(host).cast(pa.string()),
        ".example.com/o/", pa.array(oid).cast(pa.string()), "",
    )
    return n_out, urls, _VOCAB.take(anchor)


# ------------------------------------------------------ scalar wrappers


def _one(url_hash: int) -> np.ndarray:
    return np.array([to_signed64(to_unsigned64(url_hash))], dtype=np.int64)


def fetch_status(url_hash: int) -> int:
    return int(status_array(_one(url_hash))[0])


def n_docs(url_hash: int) -> int:
    uh = _one(url_hash)
    return int(n_docs_array(uh, status_array(uh))[0])


def synth_docs(url_hash: int, round_no: int) -> list[tuple[str, list]]:
    """[(doc_id, spans)] for one fetched URL (empty unless status 200);
    spans are interleaved (kind, text, media_ref, offset) tuples."""
    uh = _one(url_hash)
    keys = doc_keys_array(uh, n_docs_array(uh, status_array(uh)), round_no)
    n_spans, offset, is_text, text, media = spans_array(keys)
    spans = [
        ("text", t, None, k) if it else ("media", None, m, k)
        for k, it, t, m in zip(
            offset.tolist(), is_text.tolist(), text.to_pylist(), media.to_pylist()
        )
    ]
    ends = np.cumsum(n_spans).tolist()
    return [
        (d, spans[a:b]) for d, a, b in zip(doc_ids(keys).to_pylist(), [0] + ends[:-1], ends)
    ]


def outlinks_anchored(url_hash: int, n_hosts: int) -> list[tuple[str, str]]:
    """[(url, anchor_word)] discovered by a successful fetch."""
    uh = _one(url_hash)
    _n, urls, anchors = outlinks_array(uh, status_array(uh), n_hosts)
    return list(zip(urls.to_pylist(), anchors.to_pylist()))


def outlinks(url_hash: int, n_hosts: int) -> list[str]:
    """Canonical outlink URLs discovered by a successful fetch."""
    return [url for url, _anchor in outlinks_anchored(url_hash, n_hosts)]


STATE_OF_STATUS = {200: "active", 404: "dead", 403: "protected", 429: "suspended"}
