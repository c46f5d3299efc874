"""Similarity search over embedding columns (array<float>).

  cosine(a, b)            pure column expression (zip_with + aggregate —
                          JVM-side, no UDF)
  brute_force_topk        exact baseline: queries × corpus cross join +
                          windowed rank (correct at any scale, O(Q·N))
  rp_lsh_buckets          random-hyperplane signature (deterministic ±1
                          planes from md5 parity — no stored model)
  banded_lsh_signatures   B independent tables of P sign bits, all
                          B·P plane sums in one pass
  banded_lsh_candidates   bounded candidates: shared small bucket in
                          any table + spill-to-exact for oversized
                          buckets (hot regions under skew)
  lsh_topk                the scale path: banded candidates, exact
                          cosine re-rank, top-k per query

At 100 TB the corpus signatures are computed once and written
bucket-partitioned; query batches join only their buckets — candidate
volume is bounded by B·bucket_cap per query even under skewed
embedding distributions, and the tiny bucket-size dim rides
broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return dot / (na * nb)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("__cv"))
    pairs = q.crossJoin(c).where(F.col("q_id") != F.col("c_id"))
    scored = pairs.select(
        "q_id", "c_id", cosine(F.col("__qv"), F.col("__cv")).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def _plane_sign(p: int, dim_col):
    """Deterministic ±1 weight for (plane p, dimension d)."""
    return F.when(
        F.substring(F.md5(F.concat(F.lit(f"{p},"), dim_col.cast("string"))), 1, 1).isin(
            *_ODD_HEX
        ),
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))


def rp_lsh_buckets(
    df: DataFrame, n_planes: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, bucket) — sign-bit signature under n deterministic planes."""
    dims = df.select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("d", "v"))
    parts = dims.select(
        F.col(id_col),
        *[
            (_plane_sign(p, F.col("d")) * F.col("v").cast("double")).alias(f"w{p}")
            for p in range(n_planes)
        ],
    )
    sums = parts.groupBy(id_col).agg(
        *[F.sum(f"w{p}").alias(f"s{p}") for p in range(n_planes)]
    )
    bucket = None
    for p in range(n_planes):
        term = F.when(F.col(f"s{p}") >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return sums.select(F.col(id_col), bucket.cast("int").alias("bucket"))


def plane_sign_value(plane: int, dim: int) -> float:
    """Python twin of ``_plane_sign`` — hashlib.md5 matches Spark md5
    and DuckDB md5 bit-for-bit, so the ±1 matrix can be baked into the
    plan as literals instead of hashed per row."""
    import hashlib

    h = hashlib.md5(f"{plane},{dim}".encode()).hexdigest()[0]
    return 1.0 if h in _ODD_HEX else -1.0


def banded_lsh_signatures(
    df: DataFrame,
    n_tables: int = 4,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(id, table_id, bucket) — B independent hash tables of P sign
    bits each. Global plane index q = table·P + p seeds the ±1 weights
    (md5 parity of 'q,d'), so table 0 reproduces the single-table
    ``rp_lsh_buckets`` signature.

    The ±1 plane matrix is a CONSTANT (B·P × dim), so it is baked into
    the plan — each plane's dim sign bits packed into ONE 64-bit mask
    literal (bit d set ⇔ sign −1, extracted per element with
    ``bit_get``), and all B·P plane sums come out of one nested
    higher-order expression over the mask array — per-row column
    expressions, no explode, no groupBy shuffle, no per-row hashing
    (the naive form computed B·P md5s per dimension per row). The mask
    form exists for PLAN size, not data size: literal ±1 arrays put
    B·P·dim literal nodes plus 2·B·P lambda functions in the tree and
    Catalyst analysis dominated runtime (~2000-node tree, ~1.6 s per
    fresh plan — constant in the data, so it amortizes at warehouse
    scale but swamps small inputs); the nested-mask form is ~50 nodes
    with identical arithmetic (1.0 − 2.0·bit is exactly ±1.0, same
    multiply, same d=0..dim−1 fold order, so sums stay bit-identical
    to the oracle's ordered ``list_reduce``).

    This is the banding treatment minhash already has (dedup.py:78):
    a single 2^P-bucket table degrades toward all-pairs as the corpus
    grows (bucket population ~ N/2^P) and radius-1 multi-probe
    multiplies candidates ×(P+1) on top; B independent tables recover
    recall with candidate volume that stays proportional to bucket
    size, and compose with the bucket-size cap below."""
    if dim > 64:
        raise ValueError("sign masks pack at most 64 dims per plane")

    def plane_mask(q: int) -> int:
        mask = 0
        for d in range(dim):
            if plane_sign_value(q, d) < 0:
                mask |= 1 << d
        if mask >= 1 << 63:  # wrap to signed long; bit_get is position-exact
            mask -= 1 << 64
        return mask

    # ALL B·P plane sums from ONE nested higher-order expression — an
    # outer transform over the mask-array literal, an inner
    # transform+aggregate fold over the embedding (the inner lambda
    # captures the outer's mask variable). Three HOF nodes total
    # instead of 2 per plane; fresh-plan build drops ~1.4 s → ~0.2 s.
    total = n_tables * n_planes
    masks = F.array(*[F.lit(plane_mask(q)).cast("long") for q in range(total)])
    sums = F.transform(
        masks,
        lambda m: F.aggregate(
            F.transform(
                F.col(vec_col),
                lambda x, d: x.cast("double")
                * (F.lit(1.0) - 2.0 * F.bit_get(m, d).cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    base = df.select(F.col(id_col), sums.alias("__s"))
    tables = []
    for t in range(n_tables):
        bucket = None
        for p in range(n_planes):
            term = F.when(
                F.element_at(F.col("__s"), t * n_planes + p + 1) >= 0,
                F.lit(1 << p),
            ).otherwise(F.lit(0))
            bucket = term if bucket is None else bucket + term
        tables.append(
            F.struct(
                F.lit(t).alias("table_id"), bucket.cast("int").alias("bucket")
            )
        )
    return base.select(
        F.col(id_col), F.explode(F.array(*tables)).alias("__tb")
    ).select(F.col(id_col), F.col("__tb.table_id"), F.col("__tb.bucket"))


def banded_lsh_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    n_tables: int = 4,
    n_planes: int = 8,
    bucket_cap: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distinct (q_id, c_id) ANN candidates with BOUNDED volume.

    Normal path: q and c share a (table, bucket) whose corpus
    population is <= bucket_cap — candidate count per query is at most
    B·bucket_cap regardless of corpus skew. Oversized buckets (hot
    regions where sign-LSH collapses) SPILL TO EXACT: their distinct
    members are compared against every query directly, so recall never
    silently drops; at a sane (B, P, cap) sizing the spill set is a
    vanishing fraction of the corpus. The bucket-size dim is tiny
    (<= B·2^P rows) and rides broadcasts."""
    from .dedup import spread_for_explode

    # plane sums run in the corpus scan's stage; a single-file corpus
    # would serialize them on one core (no-op at warehouse scale)
    corpus = spread_for_explode(corpus, id_col)
    csig = banded_lsh_signatures(corpus, n_tables, n_planes, id_col, vec_col
                                 ).withColumnRenamed(id_col, "c_id")
    qsig = banded_lsh_signatures(queries, n_tables, n_planes, id_col, vec_col
                                 ).withColumnRenamed(id_col, "q_id")
    # bucket populations via ONE window over the signature shuffle — no
    # separate sizes aggregate re-deriving the signature subtree; the
    # small/oversized branches below then share a single exchange
    # (ReusedExchange) instead of recomputing the plane sums per branch
    w = Window.partitionBy("table_id", "bucket")
    csig = csig.withColumn("__n", F.count(F.lit(1)).over(w))
    normal = qsig.join(
        csig.where(F.col("__n") <= bucket_cap), ["table_id", "bucket"]
    ).select("q_id", "c_id")
    spill_members = (
        csig.where(F.col("__n") > bucket_cap).select("c_id").distinct()
    )
    spill = queries.select(F.col(id_col).alias("q_id")).crossJoin(spill_members)
    return (
        normal.unionByName(spill)
        .where(F.col("q_id") != F.col("c_id"))
        .distinct()
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_tables: int = 4,
    n_planes: int = 8,
    bucket_cap: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: banded-table candidates (bounded by
    bucket_cap, spill-to-exact on oversized buckets), exact cosine
    re-rank."""
    cand = banded_lsh_candidates(
        queries, corpus, n_tables, n_planes, bucket_cap, id_col, vec_col
    )
    qv = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("__qv"))
    cv = corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("__cv"))
    scored = (
        cand.join(qv, "q_id")
        .join(cv, "c_id")
        .select("q_id", "c_id", cosine(F.col("__qv"), F.col("__cv")).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def _vec_norm(vec_col):
    return F.sqrt(
        F.aggregate(
            vec_col,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def ivf_centroids(
    corpus: DataFrame,
    centroid_mod: int = 53,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, cvec, cnorm) — a deterministic coarse quantizer: every
    ``centroid_mod``-th corpus vector is a centroid (k-means|| style
    data-point initialization, reproducible with no training loop, so
    the DuckDB oracle can derive the identical cell structure)."""
    return corpus.where(F.pmod(F.col(id_col), F.lit(centroid_mod)) == 0).select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        _vec_norm(F.col(vec_col)).alias("cnorm"),
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) — IVF cell assignment with NO shuffle.

    The centroid set is collected into one sorted matrix (C rows —
    dimension-sized by construction) shipped in the task closure; each
    Arrow batch of corpus vectors is scored against ALL centroids with
    one BLAS matmul (guide §4.2 — the interpreted per-element HOF fold
    this replaces cost ~C*dim expression evaluations per vector).
    argmax over columns sorted by cid ascending keeps the lowest cid
    on ties — mirroring the oracle's ``ORDER BY cos DESC, cid ASC``.
    Assignment stays map-side work in the corpus scan's stage: at
    warehouse scale the corpus is never reshuffled to pick cells, and
    writing the corpus partitioned by ``cell`` turns later probes into
    partition pruning."""
    import numpy as np
    import pandas as pd

    from .dedup import spread_for_explode

    cent_rows = sorted(
        centroids.select("cid", "cvec").collect(), key=lambda r: r["cid"]
    )
    cids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cmat = np.array([r["cvec"] for r in cent_rows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    id_field = corpus.schema[id_col].dataType.simpleString()

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = np.sqrt((x * x).sum(axis=1))
            cos = (x @ cmat.T) / np.outer(n, cnorm)
            k = np.argmax(cos, axis=1)  # ties -> first = lowest cid
            yield pd.DataFrame({id_col: pdf[id_col], "cell": cids[k]})

    return spread_for_explode(corpus, id_col).select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} {id_field}, cell long"
    )


def ivf_probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(q_id, cell) — each query's ``n_probe`` nearest centroids (the
    query side is small by contract, so a plain broadcast join +
    window is the right shape here)."""
    pairs = (
        queries.withColumn("__qn", _vec_norm(F.col(vec_col)))
        .crossJoin(F.broadcast(centroids))
    )
    dot = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col("cvec"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sim = dot / (F.col("__qn") * F.col("cnorm"))
    w = Window.partitionBy(id_col).orderBy(F.col("__sim").desc(), F.col("cid").asc())
    return (
        pairs.withColumn("__sim", sim)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_probe)
        .select(F.col(id_col).alias("q_id"), F.col("cid").alias("cell"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    centroid_mod: int = 53,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: map-side cell assignment, probe the
    n_probe nearest cells per query, exact cosine re-rank inside the
    probed cells (reads ~n_probe/C of the corpus; with cell-partitioned
    storage that is partition pruning, the IVF scale path)."""
    cents = ivf_centroids(corpus, centroid_mod, id_col, vec_col)
    cells = ivf_assign(corpus, cents, id_col, vec_col)
    probes = ivf_probe_cells(queries, cents, n_probe, id_col, vec_col)
    cand = F.broadcast(probes).join(
        cells.withColumnRenamed(id_col, "c_id"), "cell"
    ).select("q_id", "c_id").where(F.col("q_id") != F.col("c_id"))
    qv = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("__qv"),
        _vec_norm(F.col(vec_col)).alias("__qn"),
    )
    cv = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("__cv"),
        _vec_norm(F.col(vec_col)).alias("__cn"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("__qv"), F.col("__cv"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = dot / (F.col("__qn") * F.col("__cn"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = (
        cand.join(qv, "q_id")
        .join(cv, "c_id")
        .select("q_id", "c_id", cos.alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def pq_subvectors(
    df: DataFrame,
    m: int = 8,
    d_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, m, sub) — the vector split into ``m`` contiguous ``d_sub``-dim
    subvectors, long form (one explode, stays in the scan's stage)."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(mi).alias("m"),
                        F.slice(F.col(vec_col), mi * d_sub + 1, d_sub).alias("sub"),
                    )
                    for mi in range(m)
                ]
            )
        ).alias("s"),
    ).select(F.col(id_col), F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))


# (the interpreted squared-L2 fold that used to live here moved into
# pq_adc_topk's numpy distance tables — the per-dimension accumulation
# there evaluates the same left-to-right order)


def pq_codebooks(
    corpus: DataFrame,
    codeword_mod: int = 29,
    m: int = 8,
    d_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(m, cw_id, cw) — a deterministic per-subspace codebook: the
    subvectors of every ``codeword_mod``-th corpus vector (data-derived
    like the IVF quantizer, reproducible with no k-means loop so the
    oracle derives the identical codebooks)."""
    base = corpus.where(F.pmod(F.col(id_col), F.lit(codeword_mod)) == 0)
    return pq_subvectors(base, m, d_sub, id_col, vec_col).select(
        "m", F.col(id_col).alias("cw_id"), F.col("sub").alias("cw")
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    d_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, m, code) — each subvector's nearest codeword (argmin squared
    L2, ties to the lowest cw_id). The codebooks ride the task closure;
    the corpus is never shuffled to encode — at warehouse scale the
    8-byte codes replace the raw vectors in the hot path (the PQ
    compression contract: ~32x smaller scan for candidate scoring).
    Each Arrow batch scores all m subspaces against their codebooks
    with dense numpy ops (guide §4.2) instead of exploding N*m*K
    candidate rows through an interpreted L2 fold + rank window."""
    import numpy as np
    import pandas as pd

    cb_rows = codebooks.select("m", "cw_id", "cw").collect()
    cb_by_m = []
    for mi in range(m):
        rows = sorted(
            (r for r in cb_rows if r["m"] == mi), key=lambda r: r["cw_id"]
        )
        cb_by_m.append(
            (
                np.array([r["cw_id"] for r in rows], dtype=np.int64),
                np.array([r["cw"] for r in rows], dtype=np.float64),
            )
        )
    id_field = corpus.schema[id_col].dataType.simpleString()

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            frames = []
            for mi in range(m):
                cw_ids, cw = cb_by_m[mi]
                sub = x[:, mi * d_sub : (mi + 1) * d_sub]
                # chunk rows so the (rows x K x d_sub) diff tensor stays
                # cache-sized; the math is the exact (x-c)^2 sum, NOT the
                # cancellation-prone ||x||^2 - 2xc + ||c||^2 expansion
                ks = np.empty(len(sub), dtype=np.int64)
                for lo in range(0, len(sub), 512):
                    blk = sub[lo : lo + 512]
                    diff = blk[:, None, :] - cw[None, :, :]
                    dist = (diff * diff).sum(axis=2)
                    # ties -> first = lowest cw_id
                    ks[lo : lo + 512] = np.argmin(dist, axis=1)
                frames.append(
                    pd.DataFrame(
                        {id_col: pdf[id_col], "m": mi, "code": cw_ids[ks]}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} {id_field}, m int, code long"
    )


# pq_adc_topk collects its query side to the driver, and every Arrow
# batch holds a (queries x batch rows) float64 ADC matrix: at 256
# queries and 10k-row batches that is ~20 MB per task. A larger query
# side raises instead of exhausting the driver or the workers.
PQ_MAX_QUERIES = 256


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    codeword_mod: int = 29,
    m: int = 8,
    d_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: queries score CODES, not vectors.

    The query side (at most ``PQ_MAX_QUERIES`` rows; more raise
    ``ValueError``) is collected and precomputes its distance table
    (query-subvector × codeword, Q·m·K floats). The sum of m table
    lookups at a corpus vector's codes approximates the true squared
    L2. The scan is ONE Arrow pass over the corpus with no shuffle:
    each batch encodes its vectors and keeps its per-query top-k; only
    those candidates reach the final per-query rank window."""
    import numpy as np
    import pandas as pd

    cbs = pq_codebooks(corpus, codeword_mod, m, d_sub, id_col, vec_col)
    # codebooks and the query side are BOUNDED BY DESIGN (the operator
    # contract: the distance-table side "always rides broadcasts"), so
    # both ship in the task closure and the whole ADC scan is ONE Arrow
    # pass over the corpus: encode the batch, gather each query's
    # distance table at the 8 codes, keep the per-batch top-k
    # candidates — the N*m*Q lookup join, the (q, c) sum exchange and
    # the full-corpus rank window drop out of the plan; only
    # ~batches*Q*k candidate rows reach the final tiny window
    # (guide §4.2 — the r6 semdedup/ivf kernel pattern).
    cb_rows = cbs.select("m", "cw_id", "cw").collect()
    cb_by_m = []
    for mi in range(m):
        rows = sorted(
            (r for r in cb_rows if r["m"] == mi), key=lambda r: r["cw_id"]
        )
        cb_by_m.append(
            (
                np.array([r["cw_id"] for r in rows], dtype=np.int64),
                np.array([r["cw"] for r in rows], dtype=np.float64),
            )
        )
    q_rows = queries.select(id_col, vec_col).limit(PQ_MAX_QUERIES + 1).collect()
    if len(q_rows) > PQ_MAX_QUERIES:
        raise ValueError(
            f"pq_adc_topk: the query side has more than {PQ_MAX_QUERIES} rows; "
            "it is collected to the driver, so split it into batches"
        )
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_vecs = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows])
    # dtab[mi]: (Q, K) squared L2 of each query subvector vs each
    # codeword — accumulated dimension-by-dimension in index order, the
    # exact left-to-right fold _sq_l2 evaluates
    dtab = []
    for mi in range(m):
        _, cw = cb_by_m[mi]
        qsub = q_vecs[:, mi * d_sub : (mi + 1) * d_sub]
        dist = np.zeros((len(q_ids), len(cw)))
        for j in range(d_sub):
            dj = qsub[:, j : j + 1] - cw[None, :, j]
            dist += dj * dj
        dtab.append(dist)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy(np.int64)
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = len(c_ids)
            adc = np.zeros((len(q_ids), n))
            for mi in range(m):
                cw_ids, cw = cb_by_m[mi]
                sub = x[:, mi * d_sub : (mi + 1) * d_sub]
                ks = np.empty(n, dtype=np.int64)
                for lo in range(0, n, 512):
                    blk = sub[lo : lo + 512]
                    diff = blk[:, None, :] - cw[None, :, :]
                    ks[lo : lo + 512] = np.argmin(
                        (diff * diff).sum(axis=2), axis=1
                    )
                adc += dtab[mi][:, ks]
            if round_to is not None:
                scale = 10.0 ** round_to
                adc = np.floor(adc * scale + 0.5) / scale
            frames = []
            for qi in range(len(q_ids)):
                keep = c_ids != q_ids[qi]
                cc, aa = c_ids[keep], adc[qi][keep]
                if len(cc) == 0:
                    continue
                order = np.lexsort((cc, aa))[:k]
                frames.append(
                    pd.DataFrame(
                        {"q_id": q_ids[qi], "c_id": cc[order], "adc2": aa[order]}
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cands = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="q_id long, c_id long, adc2 double"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc2").asc(), F.col("c_id").asc())
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "c_id", F.col("adc2").alias("adc"), "rnk")
    )
