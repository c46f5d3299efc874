"""Interleaved-span operations (the pack_tweet analog).

Reference: twkit/utils.py:199-238 normalizes raw tweets — datetime
parse, text promotion, url/hashtag flattening, recursive normalization
of the embedded retweet. Here a document IS its span sequence
(input_hint: doc_id + spans array<struct<kind,text,media_ref,offset>>);
these kernels validate, normalize and project that shape with pure
column expressions over the nested array (no explode unless the result
is per-span).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spans_valid(spans: Column) -> Column:
    """Per-row invariant check: offsets strictly increasing from 0,
    kind∈{text,media}, payload column matches kind."""
    # zip_with pads the shorter (shifted) array with nulls -> treat the
    # padded tail pair as vacuously ordered
    offsets_ok = F.forall(
        F.zip_with(
            spans,
            F.slice(spans, 2, F.greatest(F.size(spans) - 1, F.lit(0))),
            lambda a, b: F.coalesce(a["offset"] < b["offset"], F.lit(True)),
        ),
        lambda x: x,
    )
    first_ok = F.coalesce(F.element_at(spans, 1)["offset"] >= 0, F.lit(False))
    kinds_ok = F.forall(
        spans,
        lambda s: ((s["kind"] == "text") & s["text"].isNotNull() & s["media_ref"].isNull())
        | ((s["kind"] == "media") & s["media_ref"].isNotNull() & s["text"].isNull()),
    )
    return offsets_ok & first_ok & kinds_ok


def renumber_offsets(spans: Column) -> Column:
    """Re-pack offsets to a dense 0..n-1 preserving order."""
    idx = F.sequence(F.lit(1), F.size(spans))
    return F.zip_with(
        spans,
        idx,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            (i - 1).cast("int").alias("offset"),
        ),
    )


def doc_text(spans: Column, sep: str = " ") -> Column:
    """Concatenated text of the text spans, in offset order."""
    texts = F.transform(
        F.filter(spans, lambda s: s["kind"] == "text"), lambda s: s["text"]
    )
    return F.array_join(texts, sep)


def span_stats(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Per-doc span-mix features (text/media counts, text length)."""
    s = F.col(spans_col)
    return docs.select(
        "doc_id",
        F.size(s).alias("n_spans"),
        F.size(F.filter(s, lambda x: x["kind"] == "text")).alias("n_text"),
        F.size(F.filter(s, lambda x: x["kind"] == "media")).alias("n_media"),
        F.length(doc_text(s)).alias("text_len"),
        spans_valid(s).alias("valid"),
    )


def explode_spans(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Per-span long form (the A5 explode path) keeping doc order."""
    return docs.select(
        "doc_id", F.posexplode(F.col(spans_col)).alias("pos", "span")
    ).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
