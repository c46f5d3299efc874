"""URL canonicalization + 64-bit hashing.

Reference behavior: twkit/crawler/deshorten.py:20-98 expands short URLs
over the network and caches ``shorturl -> url`` mappings; the rebuild
replaces the network step with a pure, deterministic canonicalization
function (north rule: "URL canonicalization + 64-bit hashing in
vectorized Arrow UDFs") plus an alias-table fixpoint resolver for
multi-hop redirect chains.

Canonical form (applied in this order):
  1. trim whitespace
  2. drop the #fragment
  3. lowercase scheme and host; strip a leading "www."; strip :80/:443
  4. collapse duplicate slashes in the path; strip one trailing slash
  5. drop tracking query params (utm_*, fbclid, gclid, sess, sid, ref)
     and normalize leftover '?&'/'&&'/trailing separators
  6. sort remaining query params by key (stable)

Two implementations with identical output:
  * ``canonicalize_udf`` — Arrow-batched pandas UDF (the north-rule path)
  * ``canonicalize_str`` — scalar Python (used by the reference simulator)

Hashing: the distributed path uses Spark's built-in ``xxhash64`` (JVM,
whole-stage codegen); ``hashing.xxh64_str`` is bit-identical for the
simulator.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TRACKING = r"(?:utm_[^&=#]*|fbclid|gclid|sess|sid|ref)"
_RE_FRAGMENT = re.compile(r"#.*$")
_RE_URL = re.compile(r"^(https?)://([^/?#]+)([^?#]*)(\?[^#]*)?$", re.IGNORECASE)
_RE_TRACK_PARAM = re.compile(r"(?:^|&)" + _TRACKING + r"=[^&]*")
_RE_MULTISLASH = re.compile(r"/{2,}")


def _canon_one(url: str) -> str | None:
    if url is None:
        return None
    # strip AFTER fragment removal: "#..." can expose trailing
    # whitespace, and canonicalization must be idempotent
    u = _RE_FRAGMENT.sub("", url).strip()
    m = _RE_URL.match(u)
    if not m:
        return u
    scheme = m.group(1).lower()
    host = m.group(2).lower()
    if host.startswith("www."):
        host = host[4:]
    if (scheme == "http" and host.endswith(":80")) or (
        scheme == "https" and host.endswith(":443")
    ):
        host = host.rsplit(":", 1)[0]
    path = _RE_MULTISLASH.sub("/", m.group(3) or "")
    if path.endswith("/") and len(path) > 1:
        path = path[:-1]
    query = (m.group(4) or "")[1:]
    if query:
        query = _RE_TRACK_PARAM.sub("", query).lstrip("&")
        if query:
            parts = [p for p in query.split("&") if p]
            parts.sort(key=lambda p: p.split("=", 1)[0])
            query = "&".join(parts)
    out = f"{scheme}://{host}{path or '/'}"
    if query:
        out += "?" + query
    return out


def canonicalize_str(url: str) -> str | None:
    """Scalar canonicalization (simulator / tests — the reference
    implementation the vectorized path must match bit-for-bit)."""
    return _canon_one(url)


def _sort_params(q: str) -> str:
    parts = [p for p in q.split("&") if p]
    parts.sort(key=lambda p: p.split("=", 1)[0])
    return "&".join(parts)


def canonicalize_series(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalization: pandas .str kernels end to end; the
    only per-row Python is query-param sorting on the subset of rows
    that still have >= 2 params after tracking-param removal."""
    s = urls.str.replace(r"#.*$", "", regex=True).str.strip()
    m = s.str.extract(
        r"^(?P<sch>[Hh][Tt][Tt][Pp][Ss]?)://(?P<host>[^/?#]+)(?P<path>[^?#]*)(?:\?(?P<q>.*))?$"
    )
    ok = m["sch"].notna()
    scheme = m["sch"].str.lower()
    host = m["host"].str.lower().str.replace(r"^www\.", "", regex=True)
    host = host.mask(scheme.eq("http"), host.str.replace(r":80$", "", regex=True))
    host = host.mask(scheme.eq("https"), host.str.replace(r":443$", "", regex=True))
    path = (
        m["path"].fillna("")
        .str.replace(r"/{2,}", "/", regex=True)
        .str.replace(r"(?<=.)/$", "", regex=True)
    )
    path = path.mask(path.eq(""), "/")
    q = (
        m["q"].fillna("")
        .str.replace(r"(?:^|&)" + _TRACKING + r"=[^&]*", "", regex=True)
        .str.lstrip("&")
    )
    multi = q.str.contains("&", na=False)
    if multi.any():
        q = q.mask(multi, q[multi].map(_sort_params))
    out = scheme + "://" + host + path + ("?" + q).where(q.ne(""), "")
    return out.where(ok, s)


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched canonicalization (the scheduling-round path)."""
    return canonicalize_series(urls)


def url_hash64(url_col: Column) -> Column:
    """64-bit hash of a canonical URL — JVM-side, codegen'd.

    Matches hashing.xxh64_str(url) exactly (seed 42), so the Python
    simulator and the Spark pipeline agree on every url_hash.
    """
    return F.xxhash64(url_col)


def resolve_aliases(urls_df, alias_df, max_hops: int = 8):
    """Multi-hop redirect-chain resolution (deshorten.py:86-97 semantics).

    ``alias_df``: (src_url, dst_url) one redirect hop. Iteratively
    left-join until fixpoint (bounded by max_hops — redirect chains in
    the reference's shortener list are short; loops are cut by the
    bound). Broadcast the alias table when small; at scale this is a
    shuffle-join per hop on the canonical URL.
    """
    out = urls_df
    for _ in range(max_hops):
        joined = out.join(
            alias_df.withColumnRenamed("src_url", "url").withColumnRenamed(
                "dst_url", "__next"
            ),
            "url",
            "left",
        )
        out = joined.withColumn(
            "url", F.coalesce(F.col("__next"), F.col("url"))
        ).drop("__next")
    return out
