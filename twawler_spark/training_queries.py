"""Training-data-pipeline operators over documents/embeddings.

Dedup (exact, minhash-LSH, simhash, token-set jaccard, embedding-
cosine), ANN similarity search, text analysis (lang-ID, quality,
tokens, fingerprints) and multimodal plumbing — each as a Spark query
with a DuckDB oracle.

Near-duplicates are PLANTED deterministically inside each dedup query
(a mutated copy of every document: drop-first-token for text, doubled
vector for embeddings), identically on both engines, so results are
non-trivial: the operator must find exactly the planted neighbors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

N_MINHASH = 8  # 4 bands x 2 rows

# Kirsch-Mitzenmacher minhash in portable SQL: one md5 per shingle,
# split into two 60-bit halves mod 2^59, expanded to K hashes
_KM_M = 1 << 59
_KM_MINHASH_SQL = ",".join(
    f"min((('0x' || substring(md5(tok), 1, 15))::BIGINT % {_KM_M}"
    f" + {k} * (('0x' || substring(md5(tok), 17, 15))::BIGINT % {_KM_M})) % {_KM_M})"
    f" AS h{k}"
    for k in range(N_MINHASH)
)
N_SIMHASH_BITS = 16
_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _with_near_dups(d: DataFrame) -> DataFrame:
    """documents ∪ near-copy of each (doc_id||'_nd', first token dropped)."""
    orig = d.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    mutated = d.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_nd")).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    return orig.unionByName(mutated)


_SQL_NEAR_DUPS = """
  SELECT cast(doc_id as varchar) AS doc_id, text FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_nd' AS doc_id,
         substring(text, strpos(text, ' ') + 1) AS text
  FROM documents
"""


# ------------------------------------------------------------ exact dedup

def q_dedup_exact(spark, sf):
    """Exact dedup: hash-groupBy on a canonical fingerprint. Planted
    EXACT copies (suffix _c) must land in the same group (S12 semantics:
    unique-index dedup-on-write, dumpall.py:61-81)."""
    d = _t(spark, sf, "documents")
    orig = d.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    copies = d.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_c")).alias("doc_id"), "text"
    )
    alld = orig.unionByName(copies)
    return (
        alld.groupBy(F.md5(F.lower(F.col("text"))).alias("fingerprint"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .where(F.col("n_docs") >= 2)
    )


O_DEDUP_EXACT = """
WITH a AS (
  SELECT cast(doc_id as varchar) AS doc_id, text FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_c', text FROM documents)
SELECT md5(lower(text)) AS fingerprint, count(*) AS n_docs, min(doc_id) AS keeper
FROM a GROUP BY 1 HAVING count(*) >= 2
"""


# --------------------------------------------------------- token jaccard

def q_dedup_jaccard(spark, sf):
    """Token-set Jaccard VERIFICATION of MinHash-LSH candidates — the
    two-tier near-dup shape at 100 TB: LSH *discovers* candidate pairs
    (one bucketed shuffle, never all-pairs), exact Jaccard *verifies*
    only those candidates, restricted to the same (lang, source) block.
    Recall is the LSH tier's: a >=0.9 pair missed by every band is not
    re-discovered here (documented trade — the all-pairs variant is
    quadratic in block size and does not survive scale-up)."""
    d = _t(spark, sf, "documents")
    cands = _lsh_pairs(_with_near_dups(d))
    base = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "lang",
        "source",
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
    )
    mut = d.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_nd")).alias("doc_id"),
        "lang",
        "source",
        F.array_distinct(
            F.split(F.expr("substring(text, instr(text, ' ') + 1)"), " ")
        ).alias("toks"),
    )
    meta = base.unionByName(mut)
    a = meta.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
        F.col("toks").alias("toks_a"),
    )
    b = meta.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("toks").alias("toks_b"),
    )
    joined = cands.join(a, "doc_a").join(b, "doc_b").where(
        (F.col("lang_a") == F.col("lang_b")) & (F.col("source_a") == F.col("source_b"))
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.size(F.array_union(F.col("toks_a"), F.col("toks_b")))
    jac = inter / union
    return joined.select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    ).where(F.col("jaccard") >= 0.9)


def _o_dedup_jaccard() -> str:
    return f"""
WITH docs AS ({_SQL_NEAR_DUPS}),
toks AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
      i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS tok
  FROM docs),
sigs AS (
  SELECT doc_id,
         {_KM_MINHASH_SQL}
  FROM toks WHERE tok != '' GROUP BY doc_id),
bands AS (SELECT doc_id, {", ".join(f"h{2 * b} || '|' || h{2 * b + 1} AS band{b}" for b in range(4))} FROM sigs),
cands AS ({" UNION ".join(f"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bands x JOIN bands y ON x.band{b} = y.band{b} AND x.doc_id < y.doc_id" for b in range(4))}),
meta AS (
  SELECT cast(doc_id as varchar) AS doc_id, lang, source,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_nd', lang, source,
         list_distinct(string_split(substring(text, strpos(text, ' ') + 1), ' '))
  FROM documents),
verified AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(a.toks, b.toks)) * 1.0 /
               len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
  FROM cands c
  JOIN meta a ON c.doc_a = a.doc_id
  JOIN meta b ON c.doc_b = b.doc_id
  WHERE a.lang = b.lang AND a.source = b.source)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.9
"""


O_DEDUP_JACCARD = _o_dedup_jaccard()


# ----------------------------------------------------------- minhash LSH

def _minhash_cols():
    """K min-hash columns h0..h7 — one md5 per shingle, expanded via
    Kirsch-Mitzenmacher (mirrors operators/dedup.minhash_signatures)."""
    m = F.md5(F.col("tok"))
    h1 = F.pmod(F.conv(F.substring(m, 1, 15), 16, 10).cast("long"), F.lit(_KM_M))
    h2 = F.pmod(F.conv(F.substring(m, 17, 15), 16, 10).cast("long"), F.lit(_KM_M))
    return [
        F.min(F.pmod(h1 + k * h2, F.lit(_KM_M))).alias(f"h{k}")
        for k in range(N_MINHASH)
    ]


def _let(expr, fn):
    """Let-binding for HOF lambdas: evaluate ``expr`` ONCE per row and
    pass it to ``fn`` as a lambda variable. A non-lambda subexpression
    referenced inside a higher-order-function lambda is re-evaluated at
    EVERY element (interpreted HOFs get no common-subexpression
    elimination), so e.g. slicing a split() inside a transform costs
    O(len^2) per row. Wrapping the expression in a 1-element array and
    transforming over it makes it a true per-row binding."""
    return F.transform(F.array(expr), fn)[0]


def _shingles_spark(text_col):
    """Distinct 5-gram word shingles (FIXTURES: unigrams collide too
    much under a 31-word vocab — shingles make docs distinctive)."""

    def from_toks(toks):
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 4, F.lit(1)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 5)))
        )

    return _let(F.split(text_col, " "), from_toks)


def _bands_long(docs: DataFrame) -> DataFrame:
    """Long-form LSH band table (doc_id, band_idx, band_val):
    shingle→minhash→band. One table per corpus; a single equi-join on
    (band_idx, band_val) then replaces |bands| separate joins
    (1 shuffle instead of 4 sig rescans).

    Computed per document inside Arrow batches (guide §4.2): the
    Kirsch-Mitzenmacher arithmetic is exact integers (one md5 per
    distinct shingle, two 60-bit halves mod 2^59, 8 expansions), so the
    C-md5 Python evaluation is bit-identical to the old
    explode→groupBy(doc).min aggregate — and the 50x-amplified shingle
    stream plus its doc-keyed exchange drop out of the plan entirely
    (4 band rows per doc come straight out of the scan's stage)."""
    import pandas as pd

    from .operators.dedup import spread_for_explode

    m_mod = _KM_M
    n_bands = N_MINHASH // 2

    def bands(batches):
        import hashlib

        for pdf in batches:
            out_doc, out_idx, out_val = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split(" ")
                seen = set()
                mins = [None] * N_MINHASH
                for i in range(max(len(toks) - 4, 1)):
                    sh = " ".join(toks[i : i + 5])
                    if not sh or sh in seen:
                        continue
                    seen.add(sh)
                    hx = hashlib.md5(sh.encode("utf-8")).hexdigest()
                    h1 = int(hx[0:15], 16) % m_mod
                    h2 = int(hx[16:31], 16) % m_mod
                    for k in range(N_MINHASH):
                        v = (h1 + k * h2) % m_mod
                        if mins[k] is None or v < mins[k]:
                            mins[k] = v
                if mins[0] is None:  # no non-empty shingle -> no sig row
                    continue
                for b in range(n_bands):
                    out_doc.append(doc_id)
                    out_idx.append(b)
                    out_val.append(f"{mins[2 * b]}|{mins[2 * b + 1]}")
            yield pd.DataFrame(
                {"doc_id": out_doc, "band_idx": out_idx, "band_val": out_val}
            )

    return (
        spread_for_explode(docs, "doc_id")
        .select("doc_id", "text")
        .mapInPandas(bands, schema="doc_id string, band_idx int, band_val string")
    )


def _shingle_hash_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, h1, h2) — one row per DISTINCT 5-gram word shingle per
    document, the shingle keyed by its md5 128-bit value as two signed
    longs. Grouping on (h1, h2) is grouping on the shingle itself: at
    10^9 distinct shingles the collision probability of a 128-bit hash
    is ~10^-21, and the shingle STRING never leaves the scan stage — the
    explode-amplified string stream and its exchange payload shrink to
    16-byte keys, and the per-doc shingle walk is one C-md5 pass in an
    Arrow batch instead of an interpreted HOF (guide §4.1/§4.2; the
    same per-doc pattern as _bands_long). Semantics match
    _shingles_spark + explode + (tok != '') exactly: 1-based window
    starts 1..max(len-4, 1), short tails joined as-is, empty shingles
    dropped, per-doc distinct."""
    import pandas as pd

    from .operators.dedup import spread_for_explode

    def rows(batches):
        import hashlib
        import struct

        unpack = struct.Struct(">qq").unpack
        md5 = hashlib.md5
        for pdf in batches:
            out_doc, out_h1, out_h2 = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split(" ")
                seen = set()
                for i in range(max(len(toks) - 4, 1)):
                    sh = " ".join(toks[i : i + 5])
                    if not sh or sh in seen:
                        continue
                    seen.add(sh)
                    a, b = unpack(md5(sh.encode("utf-8")).digest())
                    out_doc.append(doc_id)
                    out_h1.append(a)
                    out_h2.append(b)
            yield pd.DataFrame(
                {"doc_id": out_doc, "h1": out_h1, "h2": out_h2}
            )

    return (
        spread_for_explode(docs, "doc_id")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .mapInPandas(rows, schema="doc_id long, h1 long, h2 long")
    )


def _lsh_pairs(alld: DataFrame) -> DataFrame:
    """(doc_a, doc_b) LSH candidate pairs: shingle→minhash→band→bucket
    self-join — the discovery tier shared by dedup_minhash_lsh (as the
    registered result) and dedup_jaccard (as verification input)."""
    # the band table feeds BOTH sides of the bucket self-join —
    # checkpoint so the shingle+minhash pipeline runs once, not twice
    bands = _bands_long(alld).localCheckpoint(eager=False)
    x, y = bands.alias("x"), bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def q_dedup_minhash_lsh(spark, sf):
    """MinHash+LSH candidate pairs: shingle→minhash→band→bucket-join.
    4 bands × 2 rows over 5-gram shingles; planted near-copies collide
    in ≥1 band."""
    return _lsh_pairs(_with_near_dups(_t(spark, sf, "documents")))


def _o_minhash_parts() -> tuple[str, str]:
    """(CTE chain, band-join select) — split so composing oracles (e.g.
    dedup_clusters' recursive closure) can splice the chain at the TOP
    level of their own WITH (DuckDB does not resolve CTEs declared in a
    nested WITH across the set-op branches of the outer query)."""
    # Kirsch-Mitzenmacher over one md5, matching minhash_signatures:
    # h1/h2 = 60-bit halves mod 2^59; h_k = (h1 + k*h2) mod 2^59
    M = 1 << 59
    hs = ",\n         ".join(
        f"min((('0x' || substring(md5(tok), 1, 15))::BIGINT % {M}"
        f" + {k} * (('0x' || substring(md5(tok), 17, 15))::BIGINT % {M})) % {M})"
        f" AS h{k}"
        for k in range(N_MINHASH)
    )
    bands = ", ".join(f"h{2*b} || '|' || h{2*b+1} AS band{b}" for b in range(4))
    joins = "\nUNION\n".join(
        f"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bands x JOIN bands y "
        f"ON x.band{b} = y.band{b} AND x.doc_id < y.doc_id"
        for b in range(4)
    )
    ctes = f"""docs AS ({_SQL_NEAR_DUPS}),
toks AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
      i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS tok
  FROM docs),
sigs AS (
  SELECT doc_id,
         {hs}
  FROM toks WHERE tok != '' GROUP BY doc_id),
bands AS (SELECT doc_id, {bands} FROM sigs)"""
    return ctes, joins


def _o_minhash_bands() -> str:
    ctes, joins = _o_minhash_parts()
    return f"""
WITH {ctes}
{joins}
"""


O_DEDUP_MINHASH = _o_minhash_bands()


# --------------------------------------------------------------- simhash

def _simhash_expr_spark(tok_col: str = "tok"):
    """Per-token 16 parity contributions; bit j from hex digit j of md5."""
    return [
        F.when(
            F.substring(F.md5(F.col(tok_col)), j + 1, 1).isin(*_ODD_HEX), 1
        ).otherwise(-1).alias(f"p{j}")
        for j in range(N_SIMHASH_BITS)
    ]


def q_dedup_simhash(spark, sf):
    """SimHash near-dup: 16-bit signature; histogram of hamming distance
    between each doc and its planted near-copy (most distances ≤ 2)."""
    from .operators.dedup import spread_for_explode

    alld = spread_for_explode(_with_near_dups(_t(spark, sf, "documents")), "doc_id")
    toks = alld.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    parts = toks.select("doc_id", *_simhash_expr_spark())
    sums = parts.groupBy("doc_id").agg(
        *[F.sum(f"p{j}").alias(f"s{j}") for j in range(N_SIMHASH_BITS)]
    )
    sim = sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
                for j in range(N_SIMHASH_BITS)
            ]
        ).alias("simhash"),
    )
    orig = sim.where(~F.col("doc_id").endswith("_nd")).alias("o")
    mut = (
        sim.where(F.col("doc_id").endswith("_nd"))
        .withColumn("base", F.expr("substring(doc_id, 1, length(doc_id) - 3)"))
        .alias("m")
    )
    joined = orig.join(mut, F.col("o.doc_id") == F.col("m.base"))
    ham = F.bit_count(
        F.col("o.simhash").bitwiseXOR(F.col("m.simhash")).cast("long")
    )
    return (
        joined.select(ham.alias("hamming"))
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
    )


def _o_simhash() -> str:
    parts = ",\n         ".join(
        f"CASE WHEN substring(md5(tok), {j + 1}, 1) IN {repr(_ODD_HEX)} THEN 1 ELSE -1 END AS p{j}"
        for j in range(N_SIMHASH_BITS)
    )
    sums = ", ".join(f"sum(p{j}) AS s{j}" for j in range(N_SIMHASH_BITS))
    bits = " + ".join(
        f"CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END" for j in range(N_SIMHASH_BITS)
    )
    return f"""
WITH docs AS ({_SQL_NEAR_DUPS}),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs),
parts AS (
  SELECT doc_id,
         {parts}
  FROM toks WHERE tok != ''),
sums AS (SELECT doc_id, {sums} FROM parts GROUP BY doc_id),
sim AS (SELECT doc_id, cast({bits} as bigint) AS simhash FROM sums),
pairs AS (
  SELECT bit_count(xor(o.simhash, m.simhash)) AS hamming
  FROM sim o JOIN sim m
    ON NOT o.doc_id LIKE '%\\_nd' ESCAPE '\\'
   AND m.doc_id = o.doc_id || '_nd')
SELECT hamming, count(*) AS n_pairs FROM pairs GROUP BY hamming
"""


O_DEDUP_SIMHASH = _o_simhash()


# --------------------------------------------------- embedding cosine dedup

def _cos_spark(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return dot / (na * nb)


def q_dedup_embedding_cosine(spark, sf):
    """Embedding near-dup: cosine ≥ 0.999 within label blocks; planted
    doubled-vector copies are the exact-dup plants (cos == 1)."""
    e = _t(spark, sf, "embeddings")
    base = e.select(
        F.col("vec_id").cast("string").alias("vid"), "label", "embedding"
    )
    planted = e.select(
        F.concat(F.col("vec_id").cast("string"), F.lit("_d")).alias("vid"),
        "label",
        F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")).alias(
            "embedding"
        ),
    )
    from .operators.dedup import spread_for_explode

    # norm once per VECTOR (bit-identical: same sqrt-of-sum expression,
    # just materialized pre-join), so each pair folds only the dot; the
    # label block key has tiny cardinality, so the self-join must NOT
    # shuffle on it — spread the probe side by vid and broadcast the
    # block side instead (label-count-independent parallelism)
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    alle = base.unionByName(planted).withColumn("__n", norm)
    a = spread_for_explode(alle, "vid").alias("a")
    b = F.broadcast(alle).alias("b")
    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vid") < F.col("b.vid"))
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("a.embedding"),
            F.col("b.embedding"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = dot / (F.col("a.__n") * F.col("b.__n"))
    return pairs.select(
        F.col("a.vid").alias("vec_a"),
        F.col("b.vid").alias("vec_b"),
        F.round(cos, 3).alias("cos"),
    ).where(F.col("cos") >= 0.999)


O_DEDUP_EMB = """
WITH alle AS (
  SELECT cast(vec_id as varchar) AS vid, label, embedding FROM embeddings
  UNION ALL
  SELECT cast(vec_id as varchar) || '_d', label,
         list_transform(embedding, x -> cast(x * cast(2.0 as float) as float))
  FROM embeddings),
pairs AS (
  SELECT a.vid AS vec_a, b.vid AS vec_b,
         round(
           list_reduce(list_transform(range(1, len(a.embedding) + 1),
             i -> a.embedding[i]::double * b.embedding[i]::double), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(range(1, len(a.embedding) + 1),
                i -> a.embedding[i]::double * a.embedding[i]::double), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(range(1, len(b.embedding) + 1),
                i -> b.embedding[i]::double * b.embedding[i]::double), (x, y) -> x + y))),
         3) AS cos
  FROM alle a JOIN alle b ON a.label = b.label AND a.vid < b.vid)
SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.999
"""


# ------------------------------------------------------------- ANN top-k

def q_ann_cosine_topk(spark, sf):
    """Brute-force cosine top-5 neighbors for query vectors (vec_id<10)."""
    from .operators.dedup import spread_for_explode

    e = spread_for_explode(_t(spark, sf, "embeddings"), "vec_id")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    pairs = q.crossJoin(c).where(F.col("q_id") != F.col("c_id"))
    cos = _cos_spark(F.col("q_emb"), F.col("c_emb"))
    scored = pairs.select("q_id", "c_id", F.round(cos, 4).alias("cos"))
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("q_id", "c_id", "cos", "rnk")
    )


O_ANN_TOPK = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
scored AS (
  SELECT q_id, c_id,
         round(
           list_reduce(list_transform(range(1, len(q_emb) + 1),
             i -> q_emb[i]::double * c_emb[i]::double), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(range(1, len(q_emb) + 1),
                i -> q_emb[i]::double * q_emb[i]::double), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(range(1, len(c_emb) + 1),
                i -> c_emb[i]::double * c_emb[i]::double), (x, y) -> x + y))),
         4) AS cos
  FROM q CROSS JOIN c WHERE q_id != c_id)
SELECT q_id, c_id, cos, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
  FROM scored) WHERE rnk <= 5
"""


ANN_TABLES = 4      # B independent hash tables
ANN_PLANES = 8      # P sign bits per table
ANN_BUCKET_CAP = 8  # corpus-population cap per bucket (spill-to-exact above)


def q_ann_lsh_buckets(spark, sf):
    """Banded random-hyperplane LSH (the ANN scale path): B=4
    independent tables of P=8 sign bits, all 32 plane sums in one pass
    (operators/similarity.py:banded_lsh_signatures). Output: per-table
    bucket populations with the oversized (spill-to-exact) flag — a
    single 256-bucket table degenerates toward all-pairs as the corpus
    grows; banding + the cap bound candidate volume under skew."""
    from .operators.dedup import spread_for_explode
    from .operators.similarity import banded_lsh_signatures

    e = spread_for_explode(_t(spark, sf, "embeddings"), "vec_id")
    sig = banded_lsh_signatures(e, ANN_TABLES, ANN_PLANES)
    return sig.groupBy("table_id", "bucket").agg(
        F.count("*").alias("n_vectors"),
        (F.count("*") > ANN_BUCKET_CAP).alias("oversized"),
    )


def _o_ann_sig_cte() -> str:
    """Shared oracle CTEs: (vec_id, table_id, bucket) signatures,
    mirroring banded_lsh_signatures — the ±1 plane matrix baked in as
    literal lists (same hashlib/md5 parity), each plane sum an ORDERED
    list_reduce left fold over d=0..63, bit-identical to Spark's
    zip_with+aggregate fold."""
    from .operators.similarity import plane_sign_value

    def plane_sum(q: int) -> str:
        ws = "[" + ", ".join(str(plane_sign_value(q, d)) for d in range(64)) + "]"
        return (
            f"list_reduce(list_transform(range(1, 65), "
            f"i -> embedding[i]::double * ({ws})[i]), (x, y) -> x + y)"
        )

    sig_rows = "\n  UNION ALL\n".join(
        "  SELECT vec_id, {t} AS table_id, cast({b} as int) AS bucket FROM embeddings".format(
            t=t,
            b=" + ".join(
                f"CASE WHEN {plane_sum(t * ANN_PLANES + p)} >= 0 THEN {1 << p} ELSE 0 END"
                for p in range(ANN_PLANES)
            ),
        )
        for t in range(ANN_TABLES)
    )
    return f"""
sig AS (
{sig_rows})
"""


O_ANN_LSH = f"""
WITH {_o_ann_sig_cte()}
SELECT table_id, bucket, count(*) AS n_vectors,
       count(*) > {ANN_BUCKET_CAP} AS oversized
FROM sig GROUP BY table_id, bucket
"""


def q_ann_lsh_topk(spark, sf):
    """Full banded-LSH ANN pipeline: bounded candidates (shared small
    bucket in any table, plus queries × oversized-bucket members as the
    exact spill), cosine re-rank, top-5 per query (vec_id < 10)."""
    from .operators.dedup import spread_for_explode
    from .operators.similarity import banded_lsh_candidates

    e = spread_for_explode(_t(spark, sf, "embeddings"), "vec_id")
    q = e.where(F.col("vec_id") < 10)
    cand = banded_lsh_candidates(
        q, e, ANN_TABLES, ANN_PLANES, ANN_BUCKET_CAP
    )
    # norms once per VECTOR (not per candidate pair) — the re-rank then
    # folds only the dot product per pair
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    qv = e.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("__qv"),
        norm.alias("__qn"),
    )
    cv = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("__cv"),
        norm.alias("__cn"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("__qv"), F.col("__cv"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        cand.join(qv, "q_id")
        .join(cv, "c_id")
        .select(
            "q_id", "c_id",
            F.round(dot / (F.col("__qn") * F.col("__cn")), 4).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("q_id", "c_id", "cos", "rnk")
    )


O_ANN_LSH_TOPK = f"""
WITH {_o_ann_sig_cte()},
sizes AS (SELECT table_id, bucket, count(*) AS n FROM sig GROUP BY 1, 2),
small_pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id
  FROM sig q
  JOIN sig c USING (table_id, bucket)
  JOIN sizes z USING (table_id, bucket)
  WHERE q.vec_id < 10 AND z.n <= {ANN_BUCKET_CAP}),
spill_members AS (
  SELECT DISTINCT s.vec_id AS c_id
  FROM sig s JOIN sizes z USING (table_id, bucket)
  WHERE z.n > {ANN_BUCKET_CAP}),
qids AS (SELECT DISTINCT vec_id AS q_id FROM embeddings WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT q_id, c_id FROM (
    SELECT q_id, c_id FROM small_pairs
    UNION ALL
    SELECT q_id, c_id FROM qids CROSS JOIN spill_members)
  WHERE q_id <> c_id),
qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings),
cv AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
scored AS (
  SELECT q_id, c_id,
         round(
           list_reduce(list_transform(range(1, len(q_emb) + 1),
             i -> q_emb[i]::double * c_emb[i]::double), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(range(1, len(q_emb) + 1),
                i -> q_emb[i]::double * q_emb[i]::double), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(range(1, len(c_emb) + 1),
                i -> c_emb[i]::double * c_emb[i]::double), (x, y) -> x + y))),
         4) AS cos
  FROM cand JOIN qv USING (q_id) JOIN cv USING (c_id))
SELECT q_id, c_id, cos, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
  FROM scored) WHERE rnk <= 5
"""


def q_dedup_clusters(spark, sf):
    """Cluster resolution — the step production dedup needs AFTER pair
    discovery: LSH emits near-dup pairs; keeping one doc per duplicate
    group needs the transitive closure. Connected components via
    alternating large-star/small-star (O(log n) shuffle rounds — see
    operators/dedup.py:connected_components), then every document gets
    (cluster_id = min reachable doc_id, keep = is-cluster-min);
    singletons keep themselves."""
    from .operators.dedup import connected_components

    alld = _with_near_dups(_t(spark, sf, "documents"))
    cc = connected_components(_lsh_pairs(alld))
    return (
        alld.select("doc_id")
        .join(cc, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


O_DEDUP_CLUSTERS = (
    lambda parts: f"""
WITH RECURSIVE {parts[0]},
pairs AS (
{parts[1]}),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
comp AS (SELECT u AS node, min(v) AS component FROM reach GROUP BY u)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(c.component, d.doc_id) AS keep
FROM docs d LEFT JOIN comp c ON c.node = d.doc_id
"""
)(_o_minhash_parts())


IVF_CENTROID_MOD = 53  # every 53rd corpus vector is a centroid (10 cells at sf0.01)
IVF_N_PROBE = 2        # cells probed per query


def q_ann_ivf_topk(spark, sf):
    """IVF ANN (the partition-pruning scale path, complementing the
    banded-LSH path): deterministic coarse quantizer (every
    ``IVF_CENTROID_MOD``-th vector is a centroid), map-side argmax-cosine
    cell assignment with the centroid array broadcast as ONE collected
    row (no shuffle of the corpus), each query probes its
    ``IVF_N_PROBE`` nearest cells, exact cosine re-rank over only the
    probed cells' members. At warehouse scale the corpus is written
    partitioned by ``cell`` so a probe is partition pruning — the query
    reads ~n_probe/C of the data instead of all of it."""
    from .operators.dedup import spread_for_explode
    from .operators.similarity import ivf_topk

    e = spread_for_explode(_t(spark, sf, "embeddings"), "vec_id")
    q = e.where(F.col("vec_id") < 10)
    return ivf_topk(
        q, e, k=5, centroid_mod=IVF_CENTROID_MOD, n_probe=IVF_N_PROBE,
        round_to=4,
    ).select("q_id", "c_id", "cos", "rnk")


def _o_cos(a: str, b: str, an: str, bn: str) -> str:
    """Oracle cosine between two FLOAT[] columns with precomputed norms
    — ordered list_reduce left fold, bit-identical to Spark's
    zip_with+aggregate fold (same parity precedent as the LSH plane
    sums)."""
    return (
        f"(list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i]::double * {b}[i]::double), (x, y) -> x + y) "
        f"/ ({an} * {bn}))"
    )


O_ANN_IVF_TOPK = f"""
WITH vn AS (
  SELECT vec_id, embedding,
         sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
           i -> embedding[i]::double * embedding[i]::double), (x, y) -> x + y)) AS nrm
  FROM embeddings),
cents AS (
  SELECT vec_id AS cid, embedding AS cvec, nrm AS cnorm
  FROM vn WHERE vec_id % {IVF_CENTROID_MOD} = 0),
assign AS (
  SELECT vec_id AS c_id, cid AS cell FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_o_cos('v.embedding', 'c.cvec', 'v.nrm', 'c.cnorm')} DESC,
                      c.cid ASC) AS rn
    FROM vn v CROSS JOIN cents c) WHERE rn = 1),
probes AS (
  SELECT vec_id AS q_id, cid AS cell FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_o_cos('v.embedding', 'c.cvec', 'v.nrm', 'c.cnorm')} DESC,
                      c.cid ASC) AS rn
    FROM vn v CROSS JOIN cents c WHERE v.vec_id < 10) WHERE rn <= {IVF_N_PROBE}),
cand AS (
  SELECT p.q_id, a.c_id FROM probes p JOIN assign a USING (cell)
  WHERE p.q_id <> a.c_id),
scored AS (
  SELECT cand.q_id, cand.c_id,
         round({_o_cos('q.embedding', 'c.embedding', 'q.nrm', 'c.nrm')}, 4) AS cos
  FROM cand
  JOIN vn q ON q.vec_id = cand.q_id
  JOIN vn c ON c.vec_id = cand.c_id)
SELECT q_id, c_id, cos, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
  FROM scored) WHERE rnk <= 5
"""


# ----------------------------------------------------------- text analysis

_STOPWORDS = ("the", "a", "value", "data", "table", "row")


def q_text_langid(spark, sf):
    """Language-ID heuristic (F14 analog): stopword-hit ratio threshold;
    confusion counts vs the stored lang label."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    hits = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    ratio = hits / F.greatest(F.size(toks), F.lit(1))
    pred = F.when(ratio >= 0.08, "en").otherwise("other")
    return d.select("lang", pred.alias("predicted")).groupBy(
        "lang", "predicted"
    ).agg(F.count("*").alias("n"))


O_TEXT_LANGID = f"""
WITH t AS (
  SELECT lang,
         len(list_filter(string_split(text, ' '), x -> x IN {repr(_STOPWORDS)})) * 1.0
           / greatest(len(string_split(text, ' ')), 1) AS ratio
  FROM documents)
SELECT lang, CASE WHEN ratio >= 0.08 THEN 'en' ELSE 'other' END AS predicted,
       count(*) AS n
FROM t GROUP BY 1, 2
"""


def q_text_quality(spark, sf):
    """Quality scoring: length/stopword/diversity features + bucket."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    n_toks = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))) / F.greatest(
        n_toks, F.lit(1)
    )
    diversity = n_uniq / F.greatest(n_toks, F.lit(1))
    avg_len = (F.length("text") - n_toks + 1) / F.greatest(n_toks, F.lit(1))
    score = F.round(
        F.least(n_toks / F.lit(50.0), F.lit(1.0)) * 0.4
        + diversity * 0.4
        + (1 - stop_ratio) * 0.2,
        4,
    )
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        n_toks.alias("n_tokens"),
        F.round(diversity, 4).alias("diversity"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(avg_len, 4).alias("avg_tok_len"),
        score.alias("quality"),
        F.floor(score * 10).cast("int").alias("quality_bucket"),
    )


O_TEXT_QUALITY = f"""
WITH t AS (
  SELECT cast(doc_id as varchar) AS doc_id,
         len(string_split(text, ' ')) AS n_toks,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         len(list_filter(string_split(text, ' '), x -> x IN {repr(_STOPWORDS)})) AS n_stop,
         length(text) AS n_chars
  FROM documents),
f AS (
  SELECT doc_id, n_toks,
         n_uniq * 1.0 / greatest(n_toks, 1) AS diversity,
         n_stop * 1.0 / greatest(n_toks, 1) AS stop_ratio,
         (n_chars - n_toks + 1) * 1.0 / greatest(n_toks, 1) AS avg_tok_len
  FROM t),
s AS (
  SELECT *, round(least(n_toks / 50.0, 1.0) * 0.4 + diversity * 0.4
                  + (1 - stop_ratio) * 0.2, 4) AS quality
  FROM f)
SELECT doc_id, n_toks AS n_tokens, round(diversity, 4) AS diversity,
       round(stop_ratio, 4) AS stop_ratio, round(avg_tok_len, 4) AS avg_tok_len,
       quality, cast(floor(quality * 10) as int) AS quality_bucket
FROM s
"""


def q_text_token_stats(spark, sf):
    """Token counting per source: whitespace + word-regex counts."""
    d = _t(spark, sf, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    wtoks = F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)"))
    return d.groupBy("source").agg(
        F.sum(toks).alias("ws_tokens"),
        F.sum(wtoks).alias("re_tokens"),
        F.round(F.avg(toks), 4).alias("avg_tokens"),
        F.count("*").alias("n_docs"),
    )


O_TEXT_TOKENS = """
SELECT source,
       cast(sum(len(string_split(text, ' '))) as bigint) AS ws_tokens,
       cast(sum(len(regexp_extract_all(text, '[a-z0-9]+'))) as bigint) AS re_tokens,
       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
       count(*) AS n_docs
FROM documents GROUP BY source
"""


def q_text_fingerprint(spark, sf):
    """Document fingerprinting: md5 of the 8-token normalized prefix
    (rolling-window fingerprint); distinct fingerprints per lang."""
    d = _t(spark, sf, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.lower(F.col("text")), " "), 1, 8)
    )
    return d.select("lang", F.md5(prefix).alias("fp")).groupBy("lang").agg(
        F.countDistinct("fp").alias("n_fingerprints"), F.count("*").alias("n_docs")
    )


O_TEXT_FP = """
SELECT lang,
       count(DISTINCT md5(array_to_string(string_split(lower(text), ' ')[1:8], ' ')))
         AS n_fingerprints,
       count(*) AS n_docs
FROM documents GROUP BY lang
"""


# ------------------------------------------------------------- multimodal

def q_multimodal_meta(spark, sf):
    """Multimodal plumbing (S10 analog): text encoded as an opaque
    binary media column; typed metadata extracted from the binary.
    The real decode (image/audio libs) is stubbed — see
    operators/multimodal.py — but the schema/partition/UDF path is real."""
    d = _t(spark, sf, "documents")
    media = F.encode(F.col("text"), "utf-8")
    kind = F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, "image").when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 1, "audio"
    ).otherwise("video")
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        kind.alias("media_kind"),
        F.length(media).alias("n_bytes"),
        F.md5(F.col("text")).alias("content_hash"),
    )


O_MULTIMODAL = """
SELECT cast(doc_id as varchar) AS doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_kind,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_hash
FROM documents
"""


def q_multimodal_decode(spark, sf):
    """Real pixel decode over a binary media column: each document gets
    a genuine 24-bit BMP payload (dimensions/fill derived from doc_id,
    odd widths exercising row padding), and the decoder parses headers,
    strips padding, and reduces per-channel means in numpy inside
    Arrow-batched mapInPandas (operators/multimodal.py:decode_image —
    the S10/profilepics.py:30-90 processing tier, no longer stubbed).
    The oracle predicts every decoded stat from doc_id arithmetic, so a
    header mis-parse or padding slip fails the hash."""
    from .operators.multimodal import attach_bmp_media, decode_image

    d = _t(spark, sf, "documents")
    return decode_image(attach_bmp_media(d, "doc_id")).select(
        F.col("media_ref").cast("bigint").alias("doc_id"),
        "width",
        "height",
        "mean_r",
        "mean_g",
        "mean_b",
        "n_bytes",
    )


def q_multimodal_audio(spark, sf):
    """Real PCM audio decode over a binary media column: each document
    gets a genuine PCM16 WAV payload (channel count / length / ramp
    amplitudes derived from doc_id; odd ids are stereo, exercising the
    numpy de-interleave), and the decoder walks the RIFF chunk list,
    validates fmt, and reduces per-channel mean/peak in Arrow-batched
    mapInPandas (operators/multimodal.py:decode_audio). The oracle
    predicts every decoded stat from doc_id arithmetic — a chunk-walk
    or interleave slip fails the hash."""
    from .operators.multimodal import attach_wav_media, decode_audio

    d = _t(spark, sf, "documents")
    return decode_audio(attach_wav_media(d, "doc_id")).select(
        F.col("media_ref").cast("bigint").alias("doc_id"),
        "n_channels",
        "sample_rate",
        "n_samples",
        "duration_ms",
        "mean_c0",
        "peak_c0",
        "mean_c1",
        "peak_c1",
    )


O_MULTIMODAL_AUDIO = """
WITH p AS (
  SELECT doc_id,
         cast(1 + doc_id % 2 as int) AS n_channels,
         50 + doc_id % 64 AS n
  FROM documents)
SELECT doc_id, n_channels, cast(8000 as int) AS sample_rate,
       n AS n_samples, n * 1000 // 8000 AS duration_ms,
       (n * (doc_id % 500) + n * (n - 1) // 2) // n AS mean_c0,
       doc_id % 500 + n - 1 AS peak_c0,
       CASE WHEN n_channels = 2
            THEN (n * (doc_id * 17 % 500) + n * (n - 1) // 2) // n
            ELSE 0 END AS mean_c1,
       CASE WHEN n_channels = 2 THEN doc_id * 17 % 500 + n - 1 ELSE 0 END AS peak_c1
FROM p
"""


O_MULTIMODAL_DECODE = """
SELECT doc_id,
       cast(5 + doc_id % 16 as int) AS width,
       cast(4 + doc_id % 8 as int) AS height,
       doc_id % 256 AS mean_r,
       doc_id * 7 % 256 AS mean_g,
       doc_id * 13 % 256 AS mean_b,
       54 + ((3 * (5 + doc_id % 16) + 3) // 4 * 4) * (4 + doc_id % 8) AS n_bytes
FROM documents
"""


# ------------------------------------------- pipeline compositions

FUNNEL_QUALITY_MIN = 0.5
SPLIT_TRAIN_PCT = 90
TOKEN_BUDGET = 40000


def _quality_score(toks):
    """The text_quality score as a reusable column expression (rounded
    to 4 — the rounding is the cross-engine float contract)."""
    n_toks = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))) / F.greatest(
        n_toks, F.lit(1)
    )
    diversity = n_uniq / F.greatest(n_toks, F.lit(1))
    return F.round(
        F.least(n_toks / F.lit(50.0), F.lit(1.0)) * 0.4
        + diversity * 0.4
        + (1 - stop_ratio) * 0.2,
        4,
    )


_SQL_QUALITY = """round(
  least(len(string_split(text, ' ')) / 50.0, 1.0) * 0.4
  + len(list_distinct(string_split(text, ' '))) * 1.0
      / greatest(len(string_split(text, ' ')), 1) * 0.4
  + (1 - len(list_filter(string_split(text, ' '), x -> x IN {stop})) * 1.0
      / greatest(len(string_split(text, ' ')), 1)) * 0.2, 4)"""


def q_training_funnel(spark, sf):
    """The curation pipeline as ONE composed query with per-stage
    funnel counts — the shape a 100 TB training-data build actually
    runs (each stage a column flag over one scan; exact-dedup survivor
    via a window over the fingerprint, so the funnel never rescans):
    n_in -> lang-ID pass -> quality >= 0.5 -> exact-dedup keeper."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    hits = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    pred_en = (hits / F.greatest(F.size(toks), F.lit(1))) >= 0.08
    qual = _quality_score(toks) >= FUNNEL_QUALITY_MIN
    staged = d.select(
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        pred_en.alias("lang_ok"),
        (pred_en & qual).alias("qual_ok"),
        F.md5(F.lower(F.col("text"))).alias("fp"),
    )
    w = W.partitionBy("fp").orderBy(F.col("doc_id").asc())
    keep = (
        staged.where(F.col("qual_ok"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id")
        .withColumn("kept", F.lit(True))
    )
    return (
        staged.join(keep, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_in"),
            F.sum(F.when(F.col("lang_ok"), 1).otherwise(0)).alias("n_lang"),
            F.sum(F.when(F.col("qual_ok"), 1).otherwise(0)).alias("n_quality"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_unique"),
        )
    )


O_TRAINING_FUNNEL = f"""
WITH staged AS (
  SELECT source, doc_id,
         len(list_filter(string_split(text, ' '), x -> x IN {repr(_STOPWORDS)})) * 1.0
           / greatest(len(string_split(text, ' ')), 1) >= 0.08 AS lang_ok,
         {_SQL_QUALITY.format(stop=repr(_STOPWORDS))} >= {FUNNEL_QUALITY_MIN} AS qual_ok,
         md5(lower(text)) AS fp
  FROM documents),
staged2 AS (SELECT *, lang_ok AND qual_ok AS both_ok FROM staged),
keep AS (
  SELECT doc_id, true AS kept FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn
    FROM staged2 WHERE both_ok) WHERE rn = 1)
SELECT source, count(*) AS n_in,
       cast(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS bigint) AS n_lang,
       cast(sum(CASE WHEN both_ok THEN 1 ELSE 0 END) AS bigint) AS n_quality,
       cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint) AS n_unique
FROM staged2 LEFT JOIN keep USING (doc_id)
GROUP BY source
"""


def q_train_split(spark, sf):
    """Deterministic stratified train/val split — hash-mod assignment
    (portable md5 arithmetic, so re-runs and both engines agree; no
    RNG, no sampleBy non-determinism). Output: per (lang, split) doc
    and token counts — the audit row a split materialization emits."""
    d = _t(spark, sf, "documents")
    h = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("s:"), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    split = F.when(h < SPLIT_TRAIN_PCT, "train").otherwise("val")
    return d.select(
        "lang", split.alias("split"), F.size(F.split(F.col("text"), " ")).alias("nt")
    ).groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"), F.sum("nt").alias("n_tokens")
    )


O_TRAIN_SPLIT = f"""
SELECT lang,
       CASE WHEN ('0x' || substring(md5('s:' || cast(doc_id as varchar)), 1, 15))::BIGINT
                 % 100 < {SPLIT_TRAIN_PCT}
            THEN 'train' ELSE 'val' END AS split,
       count(*) AS n_docs,
       cast(sum(len(string_split(text, ' '))) as bigint) AS n_tokens
FROM documents GROUP BY 1, 2
"""


def q_token_budget_select(spark, sf):
    """Greedy quality-ranked token budgeting: take documents in
    (quality desc, doc_id asc) order while the running token total fits
    TOKEN_BUDGET — the 'best N tokens' selection a dataset build makes
    against a compute budget.

    The naive plan is one GLOBAL window cumsum — a single-partition
    sort that dies at corpus scale. This is the scalable equivalent:
    quality is rounded to 4 decimals, so `round(q·10⁴)` is an exact
    integer bucket and (q desc, doc_id asc) ≡ (bucket desc, doc_id
    asc). Per-bucket token totals aggregate distributed; the running
    total over BUCKETS is a window over ≤10⁴ rows (broadcastable);
    the per-doc cumsum then windows WITHIN each candidate bucket
    (partitionBy bucket — distributed across buckets, never a global
    sort; docs in sub-boundary buckets all pass their filter, only the
    boundary bucket actually truncates). The DuckDB oracle
    is the naive global-window spec — the hash match proves the
    bucketed plan computes exactly the spec."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        "lang",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(toks).alias("nt"),
        _quality_score(toks).alias("q"),
    ).withColumn("b", F.round(F.col("q") * 10000).cast("long"))
    bsums = scored.groupBy("b").agg(F.sum("nt").alias("bt"))
    wb = W.orderBy(F.col("b").desc()).rowsBetween(W.unboundedPreceding, W.currentRow)
    bcum = bsums.withColumn("cum", F.sum("bt").over(wb)).select(
        "b", (F.col("cum") - F.col("bt")).alias("before")
    )
    # full buckets: before + bt <= budget  <=>  every doc in them fits;
    # boundary bucket: before < budget < before + bt
    joined = scored.join(F.broadcast(bcum), "b")
    wdoc = W.partitionBy("b").orderBy(F.col("doc_id").asc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sel = (
        joined.where(F.col("before") < TOKEN_BUDGET)
        .withColumn("cum", F.col("before") + F.sum("nt").over(wdoc))
        .where(F.col("cum") <= TOKEN_BUDGET)
    )
    return sel.groupBy("lang").agg(
        F.count("*").alias("n_selected"),
        F.sum("nt").alias("tokens_selected"),
        F.round(F.min("q"), 4).alias("min_quality"),
    )


O_TOKEN_BUDGET = f"""
WITH scored AS (
  SELECT lang, doc_id, len(string_split(text, ' ')) AS nt,
         {_SQL_QUALITY.format(stop=repr(_STOPWORDS))} AS q
  FROM documents),
sel AS (
  SELECT * FROM (
    SELECT *, sum(nt) OVER (ORDER BY q DESC, doc_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM scored) WHERE cum <= {TOKEN_BUDGET})
SELECT lang, count(*) AS n_selected,
       cast(sum(nt) as bigint) AS tokens_selected,
       round(min(q), 4) AS min_quality
FROM sel GROUP BY lang
"""


# --------------------------------------------------------------- PQ ANN

PQ_M = 8            # subspaces
PQ_DSUB = 8         # dims per subspace (8 x 8 = 64)
PQ_CW_MOD = 29      # every 29th corpus vector contributes codewords


def q_ann_pq_topk(spark, sf):
    """Product-quantization ADC top-k — the third ANN tier beside
    banded LSH (ad-hoc queries) and IVF (layout-aware probes): the
    corpus is compressed to M=8 one-byte-ish codes (deterministic
    data-derived codebooks, no k-means loop, so the oracle rebuilds
    them exactly); a query precomputes its distance table against the
    tiny codebook and scores candidates by summing M table lookups —
    the corpus side of the scan carries CODES, not floats
    (operators/similarity.py:pq_adc_topk). At 10^9+ vectors this is
    what makes exhaustive re-scoring affordable: ~32x less data moves
    than a raw-vector scan, and the codebook/table side always rides
    broadcasts."""
    from .operators.dedup import spread_for_explode
    from .operators.similarity import pq_adc_topk

    e = spread_for_explode(_t(spark, sf, "embeddings"), "vec_id")
    q = e.where(F.col("vec_id") < 10)
    return pq_adc_topk(
        q, e, k=5, codeword_mod=PQ_CW_MOD, m=PQ_M, d_sub=PQ_DSUB, round_to=4
    )


def _o_ann_pq() -> str:
    sub_rows = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {mi} AS m, embedding[{mi * PQ_DSUB + 1}:{(mi + 1) * PQ_DSUB}] AS sub FROM embeddings"
        for mi in range(PQ_M)
    )
    dist = (
        f"list_reduce(list_transform(range(1, {PQ_DSUB + 1}), "
        f"i -> (s.sub[i]::double - c.cw[i]::double) * (s.sub[i]::double - c.cw[i]::double)), "
        f"(x, y) -> x + y)"
    )
    return f"""
WITH subs AS (
  {sub_rows}),
cbs AS (SELECT m, vec_id AS cw_id, sub AS cw FROM subs WHERE vec_id % {PQ_CW_MOD} = 0),
enc AS (
  SELECT vec_id AS c_id, m, cw_id AS code FROM (
    SELECT s.vec_id, s.m, c.cw_id,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {dist} ASC, c.cw_id ASC) AS rn
    FROM subs s JOIN cbs c USING (m)) WHERE rn = 1),
dq AS (
  SELECT s.vec_id AS q_id, s.m, c.cw_id AS code, {dist} AS d
  FROM subs s JOIN cbs c USING (m) WHERE s.vec_id < 10),
scored AS (
  SELECT dq.q_id, enc.c_id, round(sum(dq.d), 4) AS adc
  FROM enc JOIN dq ON enc.m = dq.m AND enc.code = dq.code
  WHERE dq.q_id != enc.c_id
  GROUP BY 1, 2)
SELECT q_id, c_id, adc, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, c_id ASC) AS rnk
  FROM scored) WHERE rnk <= 5
"""


O_ANN_PQ_TOPK = _o_ann_pq()


# -------------------------------------------------- corpus statistics

def q_tfidf_top_terms(spark, sf):
    """TF-IDF per (doc, term) with top-3 terms per probe doc
    (doc_id < 20): tf = in-doc occurrences, idf = ln(N/df) over
    document frequency. Two aggregations (term-in-doc counts reused
    for both tf and df) + a broadcast 1-row corpus count; the per-doc
    rank windows only the probe slice."""
    d = _t(spark, sf, "documents")
    words = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    ).where(F.col("term") != "")
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.where(F.col("doc_id") < 20)
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
    )


O_TFIDF = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM words WHERE term != ''
  GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n_docs / df.df), 4) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
  WHERE tf.doc_id < 20)
SELECT doc_id, term, tfidf, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored) WHERE rnk <= 3
"""


PMI_MIN_DF = 5  # words in fewer docs than this never enter the pair join


def q_word_pmi(spark, sf):
    """Pointwise mutual information over within-document word
    co-occurrence: pmi(a,b) = ln(c_ab * N / (c_a * c_b)) over document
    frequencies, top-20 pairs (pmi desc, pair asc). The pair explosion
    is bounded two ways: per-doc DISTINCT vocabulary (the classic trick
    that keeps co-occurrence quadratic in vocab-per-doc, not doc
    length), and a broadcast min-document-frequency semi-join that
    drops singleton/rare words BEFORE the self-join — without it a
    long-document corpus pays vocab² per doc mostly for hapax
    legomena whose PMI is noise (ln N for every 1/1/1 pair). Document
    frequencies c_a, c_b are computed on the UNfiltered vocab so the
    PMI values themselves are unchanged by pruning."""
    d = _t(spark, sf, "documents")
    vocab = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            F.array_distinct(F.split(F.col("text"), " "))
        ).alias("w"),
    ).where(F.col("w") != "")
    cw_all = vocab.groupBy("w").agg(F.count("*").alias("c"))
    keep = cw_all.where(F.col("c") >= PMI_MIN_DF).select("w")
    vocab_f = vocab.join(F.broadcast(keep), "w", "semi")
    a, b = vocab_f.alias("a"), vocab_f.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count("*").alias("c_ab"))
    )
    cw = cw_all
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        pairs.join(F.broadcast(cw.select(F.col("w").alias("w1"), F.col("c").alias("c1"))), "w1")
        .join(F.broadcast(cw.select(F.col("w").alias("w2"), F.col("c").alias("c2"))), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1", "w2", "c_ab",
            F.round(
                F.log(F.col("c_ab") * F.col("n_docs") / (F.col("c1") * F.col("c2"))), 4
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(20)
    )


O_WORD_PMI = f"""
WITH vocab AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents),
vocab2 AS (SELECT doc_id, w FROM vocab WHERE w != ''),
cw AS (SELECT w, count(*) AS c FROM vocab2 GROUP BY w),
vocab3 AS (
  SELECT v.doc_id, v.w FROM vocab2 v
  JOIN (SELECT w FROM cw WHERE c >= {PMI_MIN_DF}) k USING (w)),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, count(*) AS c_ab
  FROM vocab3 a JOIN vocab3 b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT w1, w2, c_ab,
       round(ln(c_ab * n.n_docs / (c1.c * c2.c)), 4) AS pmi
FROM pairs
JOIN cw c1 ON c1.w = pairs.w1
JOIN cw c2 ON c2.w = pairs.w2
CROSS JOIN n
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT 20
"""


# ---------------------------------------- decontamination / PII / repetition

DECON_BENCH_MOD = 41  # every 41st doc stands in for the benchmark set
DECON_NGRAM = 5


def q_decontaminate(spark, sf):
    """Benchmark decontamination — the cross-corpus overlap sweep every
    serious training-data build runs (the 13-gram rule of GPT-3/PaLM
    reports; 5-gram here to match the corpus' shingle scale): a
    document is contaminated if it shares >= 1 exact n-gram with the
    benchmark set. Asymmetric by design (unlike dedup): the benchmark
    shingle set is tiny and rides a BROADCAST semi-join against the
    exploded corpus shingles — the corpus never shuffles. Output:
    per-source contaminated/clean counts (the planted benchmark docs
    themselves are excluded from the audit)."""
    d = _t(spark, sf, "documents")
    bench = d.where(F.pmod(F.col("doc_id"), F.lit(DECON_BENCH_MOD)) == 0)
    corpus = d.where(F.pmod(F.col("doc_id"), F.lit(DECON_BENCH_MOD)) != 0)
    bsh = bench.select(
        F.explode(_shingles_spark(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "").distinct()
    csh = corpus.select(
        "doc_id", "source", F.explode(_shingles_spark(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    hits = (
        csh.join(F.broadcast(bsh), "tok", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        corpus.select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("contaminated"), 1).otherwise(0)).alias("n_contaminated"),
            F.sum(F.when(F.col("contaminated").isNull(), 1).otherwise(0)).alias("n_clean"),
        )
    )


O_DECONTAMINATE = f"""
WITH sh AS (
  SELECT doc_id, source, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
      i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS tok
  FROM documents),
bsh AS (SELECT DISTINCT tok FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0 AND tok != ''),
hits AS (
  SELECT DISTINCT doc_id FROM sh
  WHERE doc_id % {DECON_BENCH_MOD} != 0 AND tok != ''
    AND tok IN (SELECT tok FROM bsh))
SELECT d.source,
       cast(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_contaminated,
       cast(sum(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_clean
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {DECON_BENCH_MOD} != 0
GROUP BY d.source
"""


PII_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"


def q_pii_redact(spark, sf):
    """PII scrubbing — regex redaction with an audit rollup. Every
    13th doc gets a planted email address (deterministically derived,
    so both engines plant the identical string); the scrubber counts
    matches and rewrites them to [EMAIL]. Pure regexp_extract_all /
    regexp_replace column expressions — the redaction pass at 100 TB
    is a map-only scan, no shuffle until the tiny audit rollup."""
    d = _t(spark, sf, "documents")
    planted = F.when(
        F.pmod(F.col("doc_id"), F.lit(13)) == 0,
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@example.com now"),
        ),
    ).otherwise(F.col("text"))
    staged = d.select("doc_id", "source", planted.alias("text"))
    n_pii = F.size(F.expr(f"regexp_extract_all(text, '{PII_EMAIL_RE}', 0)"))
    redacted = F.regexp_replace(F.col("text"), PII_EMAIL_RE, "[EMAIL]")
    return staged.select(
        "source", n_pii.alias("np"),
        (F.length(redacted) - F.length("text")).alias("dlen"),
    ).groupBy("source").agg(
        F.sum("np").alias("n_pii_found"),
        F.sum(F.when(F.col("np") > 0, 1).otherwise(0)).alias("n_docs_with_pii"),
        F.sum("dlen").alias("redaction_len_delta"),
    )


O_PII_REDACT = f"""
WITH staged AS (
  SELECT source,
         CASE WHEN doc_id % 13 = 0
              THEN text || ' contact user' || cast(doc_id as varchar) || '@example.com now'
              ELSE text END AS text
  FROM documents),
m AS (
  SELECT source,
         len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS np,
         length(regexp_replace(text, '{PII_EMAIL_RE}', '[EMAIL]', 'g')) - length(text) AS dlen
  FROM staged)
SELECT source,
       cast(sum(np) as bigint) AS n_pii_found,
       cast(sum(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS bigint) AS n_docs_with_pii,
       cast(sum(dlen) as bigint) AS redaction_len_delta
FROM m GROUP BY source
"""


def q_gopher_repetition(spark, sf):
    """Repetition quality rules (Rae et al., 'Scaling Language Models:
    Gopher', §A1.1 repetition filters — public): per document, the
    fraction of duplicate tokens and the fraction of tokens inside the
    most-frequent bigram; documents breaching either threshold are
    flagged. All higher-order column expressions (no explode): the
    bigram mode comes from an aggregate fold over the bigram array —
    quadratic in DOC length but constant per row for the bounded
    tweet-length corpus (for long-document corpora the explode +
    groupBy(doc, bigram) + max form is the right shape instead).
    Output: per-source flag counts + mean fractions."""
    d = _t(spark, sf, "documents")

    def rep_cols(toks):
        # let-bound tokens, then let-bound bigram array: the modal-
        # bigram fold references the bigram array per distinct element,
        # which would otherwise rebuild it (and re-split the text) at
        # every step — O(len^3) per doc instead of the intended
        # O(len^2) bounded-doc fold
        n = F.size(toks)
        dup_frac = F.round((n - F.size(F.array_distinct(toks))) / n, 4)
        bigrams_expr = F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        )

        def top_from(bigrams):
            top_cnt = F.aggregate(
                F.array_distinct(bigrams),
                F.lit(0),
                lambda acc, b: F.greatest(
                    acc, F.size(F.filter(bigrams, lambda x: x == b))
                ),
            )
            return F.round((top_cnt * 2) / n, 4)

        return F.struct(
            dup_frac.alias("df"), _let(bigrams_expr, top_from).alias("bf")
        )

    staged = d.select(
        "source", _let(F.split(F.col("text"), " "), rep_cols).alias("__r")
    ).select(
        "source", F.col("__r.df").alias("df"), F.col("__r.bf").alias("bf")
    )
    return staged.groupBy("source").agg(
        F.sum(F.when(F.col("df") > 0.6, 1).otherwise(0)).alias("n_dup_flagged"),
        F.sum(F.when(F.col("bf") > 0.3, 1).otherwise(0)).alias("n_bigram_flagged"),
        F.round(F.avg("df"), 4).alias("avg_dup_frac"),
        F.round(F.avg("bf"), 4).alias("avg_top_bigram_frac"),
    )


O_GOPHER_REPETITION = """
WITH t AS (
  SELECT source, string_split(text, ' ') AS toks FROM documents),
b AS (
  SELECT source, toks,
         list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
           i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
  FROM t),
m AS (
  SELECT source,
         round((len(toks) - len(list_distinct(toks))) * 1.0 / len(toks), 4) AS df,
         round(list_reduce(list_transform(list_distinct(bigrams),
                 bg -> len(list_filter(bigrams, x -> x = bg))),
               (x, y) -> greatest(x, y)) * 2.0 / len(toks), 4) AS bf
  FROM b)
SELECT source,
       cast(sum(CASE WHEN df > 0.6 THEN 1 ELSE 0 END) AS bigint) AS n_dup_flagged,
       cast(sum(CASE WHEN bf > 0.3 THEN 1 ELSE 0 END) AS bigint) AS n_bigram_flagged,
       round(avg(df), 4) AS avg_dup_frac,
       round(avg(bf), 4) AS avg_top_bigram_frac
FROM m GROUP BY source
"""


def q_gopher_repetition_exploded(spark, sf):
    """Scale-safe long-document form of the Gopher repetition rules
    (Rae et al. §A1.1): the modal-bigram count comes from
    explode → groupBy(doc, bigram) → max instead of the per-row
    O(distinct·len) aggregate fold in q_gopher_repetition. Per-row
    work is O(len); the heavy lifting is two hash aggregations with
    map-side partial combine, so a 100k-token document costs the same
    per token as a tweet. The per-doc scalars (token count, distinct
    count, source) ride along as grouping keys — a few bytes each —
    which avoids a third exchange for a join-back. Same oracle as the
    HOF form: identical results, different physical shape."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    staged = d.select(
        "doc_id",
        "source",
        n.alias("n"),
        F.size(F.array_distinct(toks)).alias("nd"),
        F.explode(bigrams).alias("bg"),
    )
    per_doc = (
        staged.groupBy("doc_id", "source", "n", "nd", "bg")
        .count()
        .groupBy("doc_id", "source", "n", "nd")
        .agg(F.max("count").alias("top_cnt"))
    )
    m = per_doc.select(
        "source",
        F.round((F.col("n") - F.col("nd")) / F.col("n"), 4).alias("df"),
        F.round((F.col("top_cnt") * 2) / F.col("n"), 4).alias("bf"),
    )
    return m.groupBy("source").agg(
        F.sum(F.when(F.col("df") > 0.6, 1).otherwise(0)).alias("n_dup_flagged"),
        F.sum(F.when(F.col("bf") > 0.3, 1).otherwise(0)).alias("n_bigram_flagged"),
        F.round(F.avg("df"), 4).alias("avg_dup_frac"),
        F.round(F.avg("bf"), 4).alias("avg_top_bigram_frac"),
    )


def q_multimodal_video(spark, sf):
    """Real video frame extraction over a binary media column: each
    document gets a genuine uncompressed RIFF/AVI payload (dimensions,
    frame count, and per-frame fill colors derived from doc_id; odd
    widths exercise DIB stride padding), and the decoder walks the RIFF
    chunk tree, validates avih/strh/strf, and reduces each '00db' DIB
    frame to exact per-channel means in Arrow-batched mapInPandas
    (operators/multimodal.py:decode_video). One output row PER FRAME —
    the frame-sampling decode a training pipeline feeds to a vision
    encoder. The oracle predicts every frame stat from doc_id
    arithmetic — a chunk-walk, stride, or frame-order slip fails the
    hash."""
    from .operators.multimodal import attach_avi_media, decode_video

    d = _t(spark, sf, "documents")
    return decode_video(attach_avi_media(d, "doc_id")).select(
        F.col("media_ref").cast("bigint").alias("doc_id"),
        "frame_idx",
        "width",
        "height",
        "fps",
        "n_frames",
        "mean_r",
        "mean_g",
        "mean_b",
    )


O_MULTIMODAL_VIDEO = """
WITH f AS (
  SELECT doc_id,
         cast(unnest(range(0, 2 + doc_id % 4)) AS int) AS frame_idx
  FROM documents)
SELECT doc_id, frame_idx,
       cast(5 + doc_id % 8 AS int) AS width,
       cast(4 + doc_id % 4 AS int) AS height,
       cast(10 AS int) AS fps,
       cast(2 + doc_id % 4 AS int) AS n_frames,
       (doc_id + 31 * frame_idx) % 256 AS mean_r,
       (7 * doc_id + 53 * frame_idx) % 256 AS mean_g,
       (13 * doc_id + 11 * frame_idx) % 256 AS mean_b
FROM f
"""


# ------------------------------------------ C4-style line-level dedup

LINE_W = 8  # tokens per "line" (the synthetic corpus has no newlines)


def q_line_dedup(spark, sf):
    """Line/paragraph-level exact dedup (C4 / RefinedWeb style): split
    every document into lines, keep only the globally-FIRST occurrence
    of each distinct line, report per-source removal stats. The
    synthetic corpus has no newlines, so a "line" is a fixed window of
    LINE_W tokens — the Spark shape is identical for real newline
    splits. Duplicates are PLANTED: every document gets a companion
    (doc_id||'_p2') carrying its first 2·LINE_W tokens, so the
    companion's lines exactly duplicate the original's first two lines
    and must be dropped (string doc_id ordering puts the original
    first).

    100 TB shape: posexplode is map-side; the only exchange is the
    hash partition on line content; the first-occurrence window sorts
    WITHIN each line's tiny duplicate group (not globally). A real
    pipeline would semi-join survivors back to reassemble documents —
    same single shuffle. Reference parity: twAwler dedups at tweet
    granularity on unique index (dumpall.py:61-81); line-level is the
    training-pipeline generalization."""
    d = _t(spark, sf, "documents")
    orig = d.select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text"
    )
    toks0 = F.split(F.col("text"), " ")
    planted = d.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_p2")).alias("doc_id"),
        "source",
        F.concat_ws(" ", F.slice(toks0, 1, 2 * LINE_W)).alias("text"),
    )
    alld = orig.unionByName(planted)

    def line_arr(toks):
        # let-bound tokens: the line transform would otherwise
        # re-evaluate split() per line (O(len^2/W) per doc)
        nlines = F.ceil(F.size(toks) / F.lit(float(LINE_W))).cast("int")
        return F.transform(
            F.sequence(F.lit(0), nlines - 1),
            lambda j: F.concat_ws(" ", F.slice(toks, j * LINE_W + 1, LINE_W)),
        )

    lines = _let(F.split(F.col("text"), " "), line_arr)
    exploded = alld.select(
        "doc_id", "source", F.posexplode(lines).alias("pos", "line")
    )
    w = W.partitionBy("line").orderBy(F.col("doc_id").asc(), F.col("pos").asc())
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_lines_removed"),
        F.countDistinct(F.when(F.col("rn") > 1, F.col("doc_id"))).alias(
            "n_docs_affected"
        ),
        F.sum(
            F.when(F.col("rn") == 1, F.size(F.split(F.col("line"), " "))).otherwise(0)
        ).alias("n_tokens_kept"),
    )


O_LINE_DEDUP = f"""
WITH alld AS (
  SELECT cast(doc_id as varchar) AS doc_id, source, text FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_p2', source,
         array_to_string((string_split(text, ' '))[1:{2 * LINE_W}], ' ')
  FROM documents),
t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM alld),
e AS (SELECT doc_id, source, toks,
             cast(unnest(range(0, cast(ceil(len(toks) / {LINE_W}.0) as bigint))) as int) AS pos
      FROM t),
l AS (SELECT doc_id, source, pos,
             array_to_string(toks[(pos * {LINE_W} + 1):(pos * {LINE_W} + {LINE_W})], ' ') AS line
      FROM e),
r AS (SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id ASC, pos ASC) AS rn
      FROM l)
SELECT source, count(*) AS n_lines,
       cast(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS bigint) AS n_lines_removed,
       count(DISTINCT CASE WHEN rn > 1 THEN doc_id END) AS n_docs_affected,
       cast(sum(CASE WHEN rn = 1 THEN len(string_split(line, ' ')) ELSE 0 END) AS bigint)
         AS n_tokens_kept
FROM r GROUP BY source
"""


# ------------------------------------- GPT-style sequence packing audit

SEQ_LEN = 512     # tokens per packed training sequence
PACK_CHUNK = 64   # doc_ids per cumsum chunk (two-phase prefix sum)


def q_sequence_packing(spark, sf):
    """Concat-and-chunk sequence packing audit (GPT-style): per source,
    documents are concatenated in doc_id order and cut into fixed
    SEQ_LEN-token training sequences; report how many sequences each
    source yields, how many documents straddle a sequence boundary
    (i.e. get split across examples), and the tail padding.

    The naive plan is one window cumsum PER SOURCE — a per-source
    global sort that serializes a skewed source onto one task. This is
    the two-phase prefix sum: doc_ids are grouped into PACK_CHUNK-sized
    chunks; chunk token-subtotals aggregate distributed, a window over
    the (tiny) chunk list per source produces each chunk's starting
    offset, and the per-doc cumsum windows WITHIN a chunk — bounded
    rows per task no matter how large the source. The DuckDB oracle is
    the naive per-source window: the hash match proves the two-phase
    plan computes exactly that spec."""
    d = _t(spark, sf, "documents")
    scored = d.select(
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.col("text"), " ")).alias("nt"),
    ).withColumn("chunk", F.floor(F.col("doc_id") / F.lit(PACK_CHUNK)))
    csums = scored.groupBy("source", "chunk").agg(F.sum("nt").alias("ct"))
    wc = (
        W.partitionBy("source")
        .orderBy("chunk")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ccum = csums.withColumn(
        "chunk_before", F.sum("ct").over(wc) - F.col("ct")
    ).select("source", "chunk", "chunk_before")
    wd = (
        W.partitionBy("source", "chunk")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    placed = (
        scored.join(ccum, ["source", "chunk"])
        .withColumn("off", F.col("chunk_before") + F.sum("nt").over(wd) - F.col("nt"))
    )
    seq0 = F.floor(F.col("off") / F.lit(SEQ_LEN))
    seq1 = F.floor((F.col("off") + F.col("nt") - 1) / F.lit(SEQ_LEN))
    return placed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("total_tokens"),
        F.ceil(F.sum("nt") / F.lit(float(SEQ_LEN))).alias("n_sequences"),
        F.sum(F.when(seq1 > seq0, 1).otherwise(0)).alias("n_boundary_docs"),
        (
            F.ceil(F.sum("nt") / F.lit(float(SEQ_LEN))) * SEQ_LEN - F.sum("nt")
        ).alias("pad_tokens"),
    )


O_SEQUENCE_PACKING = f"""
WITH s AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS nt FROM documents),
o AS (
  SELECT *, sum(nt) OVER (PARTITION BY source ORDER BY doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS off
  FROM s)
SELECT source, count(*) AS n_docs,
       cast(sum(nt) AS bigint) AS total_tokens,
       cast(ceil(sum(nt) / {SEQ_LEN}.0) AS bigint) AS n_sequences,
       cast(sum(CASE WHEN (off + nt - 1) // {SEQ_LEN} > off // {SEQ_LEN}
                     THEN 1 ELSE 0 END) AS bigint) AS n_boundary_docs,
       cast(cast(ceil(sum(nt) / {SEQ_LEN}.0) AS bigint) * {SEQ_LEN} - sum(nt)
            AS bigint) AS pad_tokens
FROM o GROUP BY source
"""


# ------------------------------------- domain-mixture resampling audit

# target mixture weights per source (Pile/RedPajama-style domain mixing);
# generated by index so Spark map literal and SQL VALUES agree exactly
MIX_WEIGHTS = {f"src{i}": (i % 5) + 1 for i in range(20)}
MIX_W_TOTAL = sum(MIX_WEIGHTS.values())
MIX_MOD = 100_000


def q_domain_mixture(spark, sf):
    """Domain-mixture resampling audit: given target mixture weights
    per source, accept each document with probability
    p_s = min(1, w_s·N / (W·n_s)) via the portable md5 hash-mod (no
    RNG — re-runs and both engines agree), where n_s is the source's
    natural count and N the corpus total. Exact integer acceptance
    test (h·W·n_s < w_s·N·MOD) — no float rounding to diverge between
    engines. Output: per-source natural count, target weight, selected
    count.

    100 TB shape: the per-source counts are one tiny agg broadcast
    back onto the scan; selection is a map-only filter — the corpus
    never shuffles. Reference parity: the tracked-set sampling knobs
    in twAwler's follow-selection (twkit/crawler/follow.py) pick
    bounded subsets per category the same way."""
    d = _t(spark, sf, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_s"))
    tot = counts.agg(F.sum("n_s").alias("n_total"))
    wmap = F.create_map(
        *[F.lit(x) for kv in MIX_WEIGHTS.items() for x in kv]
    )
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("wt", F.coalesce(wmap[F.col("source")], F.lit(0)).cast("long"))
    )
    h = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(MIX_MOD),
    )
    accepted = (
        d.join(F.broadcast(rates), "source")
        .withColumn("h", h)
        .withColumn(
            "sel",
            (F.col("h") * MIX_W_TOTAL * F.col("n_s"))
            < (F.col("wt") * F.col("n_total") * F.lit(MIX_MOD)),
        )
    )
    return accepted.groupBy("source").agg(
        F.max("wt").alias("target_weight"),
        F.count("*").alias("n_in"),
        F.sum(F.when(F.col("sel"), 1).otherwise(0)).alias("n_selected"),
    )


def _o_domain_mixture() -> str:
    values = ", ".join(f"('{s}', {w})" for s, w in MIX_WEIGHTS.items())
    return f"""
WITH wts(source, wt) AS (VALUES {values}),
c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
t AS (SELECT cast(sum(n_s) AS bigint) AS n_total FROM c),
j AS (
  SELECT d.source, d.doc_id, c.n_s, t.n_total,
         cast(coalesce(w.wt, 0) AS bigint) AS wt,
         ('0x' || substring(md5('mix:' || cast(d.doc_id as varchar)), 1, 15))::BIGINT
           % {MIX_MOD} AS h
  FROM documents d
  JOIN c USING (source) CROSS JOIN t
  LEFT JOIN wts w ON w.source = d.source)
SELECT source, max(wt) AS target_weight, count(*) AS n_in,
       cast(sum(CASE WHEN h * {MIX_W_TOTAL} * n_s < wt * n_total * {MIX_MOD}
                     THEN 1 ELSE 0 END) AS bigint) AS n_selected
FROM j GROUP BY source
"""


O_DOMAIN_MIXTURE = _o_domain_mixture()


# ------------------------------------ full Gopher quality + repetition suite

# The corpus's function-word analogs (the 8 most frequent corpus words
# stand in for Gopher's 8 designated English stopwords — the rule is
# "document must contain >=2 of the set", parameterized by set).
GOPHER_STOPS = ["join", "hash", "row", "batch", "scan", "order", "data", "filter"]
# Planted quality-violating companion: 24 words, so every LINE_W=8
# window is "# # spam ... # # spam ..." — short symbol words, ellipsis
# line endings, no stopwords. Constant on both engines.
_BAD_SYM_TEXT = " ".join(["# # spam ..."] * 6)


def q_gopher_quality_full(spark, sf):
    """The full Gopher rule suite (Rae et al. 2021, §A1.1 — public):
    quality rules (mean word length in [3,10], symbol-to-word ratio
    <=0.1, >=80% words alphabetic, >=2 designated stopwords, <=30% of
    lines ending in ellipsis) and repetition rules (duplicate-line
    fraction <=0.3, duplicate-line CHARACTER fraction <=0.2, top
    3-gram char share <=0.18, top 4-gram char share <=0.16).
    Complements q_gopher_repetition (dup-token + modal-bigram rules).

    Planted violations make every rule non-trivial: a `_sym` companion
    per document (constant symbol/ellipsis text) breaches the quality
    rules; a `_rep` companion (first LINE_W tokens repeated 6x, so its
    8-token "lines" are all identical) breaches the repetition rules.

    100 TB shape: the scalar rules are pure column expressions in the
    scan stage; the per-(doc,line) and per-(doc,n,gram) counts are the
    EXPLODED form (groupBy, not a per-row quadratic fold), so cost is
    O(total grams) with ordinary hash-agg parallelism regardless of
    document length — the scale lesson from gopher_repetition_exploded
    applied to the whole suite. Two exchanges (lines, grams) + a
    doc-keyed join, all AQE-coalesced.

    Reference parity: twAwler filters tweets by language ratios and
    letter classes (twkit/utils.py + analytics filters); this is the
    training-pipeline generalization of those per-text admission rules.
    """
    d = _t(spark, sf, "documents")
    orig = d.select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text"
    )
    sym = d.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_sym")).alias("doc_id"),
        "source",
        F.lit(_BAD_SYM_TEXT).alias("text"),
    )
    toks0 = F.split(F.col("text"), " ")
    rep = d.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_rep")).alias("doc_id"),
        "source",
        F.concat_ws(
            " ",
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.lit(6)),
                    lambda _: F.slice(toks0, 1, LINE_W),
                )
            ),
        ).alias("text"),
    )
    alld = orig.unionByName(sym).unionByName(rep)

    stops = F.array(*[F.lit(s) for s in GOPHER_STOPS])

    def tok_cols(toks):
        # let-bound tokens: six quality signals share one split() and
        # the line transform stops re-evaluating it per line
        n = F.size(toks)
        nlines = F.ceil(n / F.lit(float(LINE_W))).cast("int")
        lines = F.transform(
            F.sequence(F.lit(0), nlines - 1),
            lambda j: F.concat_ws(" ", F.slice(toks, j * LINE_W + 1, LINE_W)),
        )
        return F.struct(
            # single-space joined text: total word chars = len - (n-1)
            F.round((F.length("text") - n + 1) / n, 4).alias("mean_wl"),
            F.round(
                F.size(F.filter(toks, lambda x: (x == "#") | x.contains("..."))) / n,
                4,
            ).alias("sym_frac"),
            F.round(F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))) / n, 4).alias(
                "alpha_frac"
            ),
            F.size(F.array_intersect(F.array_distinct(toks), stops)).alias(
                "stop_cnt"
            ),
            F.round(
                F.size(F.filter(lines, lambda l: l.endswith("..."))) / nlines, 4
            ).alias("ellipsis_frac"),
            lines.alias("lines"),
        )

    base = alld.select(
        "doc_id",
        "source",
        F.length("text").alias("n_chars"),
        _let(F.split(F.col("text"), " "), tok_cols).alias("__tc"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.col("__tc.mean_wl").alias("mean_wl"),
        F.col("__tc.sym_frac").alias("sym_frac"),
        F.col("__tc.alpha_frac").alias("alpha_frac"),
        F.col("__tc.stop_cnt").alias("stop_cnt"),
        F.col("__tc.ellipsis_frac").alias("ellipsis_frac"),
        F.col("__tc.lines").alias("lines"),
    )

    # duplicate-line stats: exploded (scale-safe for long documents)
    el = base.select("doc_id", F.explode("lines").alias("line"))
    lstats = (
        el.groupBy("doc_id", "line")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("tot_lines"),
            F.sum(F.col("c") - 1).alias("dup_lines"),
            F.sum((F.col("c") - 1) * F.length("line")).alias("dup_line_chars"),
            F.sum(F.col("c") * F.length("line")).alias("tot_line_chars"),
        )
    )

    # top-n-gram occurrence-chars for n=3,4 in ONE explode (tagged rows)
    def gram_structs(toks):
        # let-bound tokens: the gram transforms would otherwise
        # re-evaluate split() per element (O(len^2) per doc)
        n = F.size(toks)

        def _grams(nn: int):
            idx = F.sequence(F.lit(1), F.greatest(n - (nn - 1), F.lit(1)))
            return F.transform(
                idx, lambda i: F.concat_ws(" ", F.slice(toks, i, nn))
            )

        return F.array(
            F.struct(F.lit(3).alias("g"), _grams(3).alias("gs")),
            F.struct(F.lit(4).alias("g"), _grams(4).alias("gs")),
        )

    eg = (
        alld.select(
            "doc_id",
            F.explode(
                _let(F.split(F.col("text"), " "), gram_structs)
            ).alias("t"),
        )
        .select("doc_id", "t.g", F.explode("t.gs").alias("gram"))
    )
    gstats = (
        eg.groupBy("doc_id", "g", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")  # conditional max folds both n in one pass
        .agg(
            F.max(
                F.when(F.col("g") == 3, F.col("c") * F.length("gram"))
            ).alias("g3_chars"),
            F.max(
                F.when(F.col("g") == 4, F.col("c") * F.length("gram"))
            ).alias("g4_chars"),
        )
    )

    j = base.drop("lines").join(lstats, "doc_id").join(gstats, "doc_id")
    dlf = F.round(F.col("dup_lines") / F.col("tot_lines"), 4)
    dcf = F.round(F.col("dup_line_chars") / F.col("tot_line_chars"), 4)
    g3f = F.round(F.col("g3_chars") / F.col("n_chars"), 4)
    g4f = F.round(F.col("g4_chars") / F.col("n_chars"), 4)
    flags = {
        "f_wordlen": (F.col("mean_wl") < 3) | (F.col("mean_wl") > 10),
        "f_sym": F.col("sym_frac") > 0.1,
        "f_alpha": F.col("alpha_frac") < 0.8,
        "f_stop": F.col("stop_cnt") < 2,
        "f_ellipsis": F.col("ellipsis_frac") > 0.3,
        "f_dupline": dlf > 0.3,
        "f_dupchar": dcf > 0.2,
        "f_g3": g3f > 0.18,
        "f_g4": g4f > 0.16,
    }
    staged = j.select(
        "source",
        dlf.alias("dlf"),
        g3f.alias("g3f"),
        g4f.alias("g4f"),
        *[F.when(c, 1).otherwise(0).alias(k) for k, c in flags.items()],
    )
    return staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        *[F.sum(k).alias("n_" + k[2:]) for k in flags],
        F.round(F.avg("dlf"), 4).alias("avg_dup_line_frac"),
        F.round(F.avg("g3f"), 4).alias("avg_g3_frac"),
        F.round(F.avg("g4f"), 4).alias("avg_g4_frac"),
    )


def _o_gopher_quality_full() -> str:
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    W = LINE_W
    return f"""
WITH alld AS (
  SELECT cast(doc_id as varchar) AS doc_id, source, text FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_sym', source, '{_BAD_SYM_TEXT}' FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_rep', source,
         array_to_string(flatten(list_transform(range(1, 7),
           x -> (string_split(text, ' '))[1:{W}])), ' ')
  FROM documents),
t AS (SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM alld),
base AS (
  SELECT doc_id, source,
         len(text) AS n_chars,
         round((len(text) - len(toks) + 1.0) / len(toks), 4) AS mean_wl,
         round(len(list_filter(toks, x -> x = '#' OR contains(x, '...')))
               * 1.0 / len(toks), 4) AS sym_frac,
         round(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               * 1.0 / len(toks), 4) AS alpha_frac,
         len(list_intersect(list_distinct(toks), [{stops}])) AS stop_cnt,
         cast(ceil(len(toks) / {W}.0) as bigint) AS n_lines,
         list_transform(range(0, cast(ceil(len(toks) / {W}.0) as bigint)),
           j -> array_to_string(toks[(j*{W}+1):(j*{W}+{W})], ' ')) AS lines
  FROM t),
base2 AS (
  SELECT *, round(len(list_filter(lines, l -> ends_with(l, '...')))
                  * 1.0 / n_lines, 4) AS ellipsis_frac
  FROM base),
el AS (SELECT doc_id, unnest(lines) AS line FROM base),
lc AS (SELECT doc_id, line, count(*) AS c FROM el GROUP BY 1, 2),
lstats AS (
  SELECT doc_id, sum(c) AS tot_lines, sum(c - 1) AS dup_lines,
         sum((c - 1) * len(line)) AS dup_line_chars,
         sum(c * len(line)) AS tot_line_chars
  FROM lc GROUP BY 1),
eg AS (
  SELECT doc_id, g,
         unnest(list_transform(range(1, greatest(len(toks) - (g - 1), 1) + 1),
           i -> array_to_string(toks[i:(i + g - 1)], ' '))) AS gram
  FROM t, (SELECT unnest([3, 4]) AS g)),
gc AS (SELECT doc_id, g, gram, count(*) AS c FROM eg GROUP BY 1, 2, 3),
gm AS (SELECT doc_id, g, max(c * len(gram)) AS top_chars FROM gc GROUP BY 1, 2),
gstats AS (
  SELECT doc_id,
         max(CASE WHEN g = 3 THEN top_chars END) AS g3_chars,
         max(CASE WHEN g = 4 THEN top_chars END) AS g4_chars
  FROM gm GROUP BY 1),
j AS (
  SELECT b.*,
         round(l.dup_lines * 1.0 / l.tot_lines, 4) AS dlf,
         round(l.dup_line_chars * 1.0 / l.tot_line_chars, 4) AS dcf,
         round(g.g3_chars * 1.0 / b.n_chars, 4) AS g3f,
         round(g.g4_chars * 1.0 / b.n_chars, 4) AS g4f
  FROM base2 b JOIN lstats l USING (doc_id) JOIN gstats g USING (doc_id))
SELECT source, count(*) AS n_docs,
       cast(sum(CASE WHEN mean_wl < 3 OR mean_wl > 10 THEN 1 ELSE 0 END) as bigint) AS n_wordlen,
       cast(sum(CASE WHEN sym_frac > 0.1 THEN 1 ELSE 0 END) as bigint) AS n_sym,
       cast(sum(CASE WHEN alpha_frac < 0.8 THEN 1 ELSE 0 END) as bigint) AS n_alpha,
       cast(sum(CASE WHEN stop_cnt < 2 THEN 1 ELSE 0 END) as bigint) AS n_stop,
       cast(sum(CASE WHEN ellipsis_frac > 0.3 THEN 1 ELSE 0 END) as bigint) AS n_ellipsis,
       cast(sum(CASE WHEN dlf > 0.3 THEN 1 ELSE 0 END) as bigint) AS n_dupline,
       cast(sum(CASE WHEN dcf > 0.2 THEN 1 ELSE 0 END) as bigint) AS n_dupchar,
       cast(sum(CASE WHEN g3f > 0.18 THEN 1 ELSE 0 END) as bigint) AS n_g3,
       cast(sum(CASE WHEN g4f > 0.16 THEN 1 ELSE 0 END) as bigint) AS n_g4,
       round(avg(dlf), 4) AS avg_dup_line_frac,
       round(avg(g3f), 4) AS avg_g3_frac,
       round(avg(g4f), 4) AS avg_g4_frac
FROM j GROUP BY source
"""


O_GOPHER_QUALITY_FULL = _o_gopher_quality_full()


# ----------------------------------- incremental round-vs-corpus near-dup

def q_dedup_incremental(spark, sf):
    """Incremental near-dup: dedup ONE crawl round's fetched documents
    against the accumulated historical corpus — the per-round shape the
    crawl loop actually needs (dedup_minhash_lsh is the whole-corpus
    batch form). Corpus = doc_id%10<8; the round = doc_id%10>=8 plus a
    PLANTED near-copy (`_nd`, first token dropped) of every corpus doc
    with doc_id%10==0 — those must be caught; original round docs
    mostly survive. A round doc is dropped iff ANY of its 4 minhash
    bands matches a corpus band (left-semi on (band_idx, band_val)).

    100 TB shape: the corpus band table is write-once and stored
    bucketed by (band_idx, band_val) (Iceberg `bucket()` transform) —
    it is NEVER reshuffled; each round only the new docs' bands (small)
    are hashed to that layout, the semi-join probes matching buckets,
    and the corpus grows by appending the survivors' bands. Work per
    round is O(|round docs|), exactly the frontier/seen-set protocol
    (X5/X9) applied at document granularity.

    Reference parity: twAwler's dup-tolerant insert dedups each fetch
    batch against the store via unique index (dumpall.py:61-81); this
    is that per-batch semantics with near-dup (not just exact) match.
    """
    d = _t(spark, sf, "documents")
    corpus = d.where(F.col("doc_id") % 10 < 8).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text"
    )
    fresh = d.where(F.col("doc_id") % 10 >= 8).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text"
    )
    planted = d.where(F.col("doc_id") % 10 == 0).select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_nd")).alias("doc_id"),
        "source",
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    round_docs = fresh.unionByName(planted)
    cbands = _bands_long(corpus)
    rbands = _bands_long(round_docs)
    dropped = (
        rbands.join(cbands, ["band_idx", "band_val"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    marked = round_docs.join(dropped, "doc_id", "left")
    return marked.groupBy("source").agg(
        F.count("*").alias("n_round_docs"),
        F.sum(F.when(F.col("dropped").isNotNull(), 1).otherwise(0)).alias(
            "n_dropped"
        ),
        F.sum(F.when(F.col("dropped").isNull(), 1).otherwise(0)).alias("n_kept"),
        F.min(F.when(F.col("dropped").isNotNull(), F.col("doc_id"))).alias(
            "first_dropped_id"
        ),
    )


def _o_dedup_incremental() -> str:
    shingle = (
        "unnest(list_distinct(list_transform("
        "range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1), "
        "i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS tok"
    )
    bands = ", ".join(
        f"h{2*b} || '|' || h{2*b+1} AS band{b}" for b in range(N_MINHASH // 2)
    )
    hits = "\nUNION\n".join(
        f"SELECT r.doc_id FROM rbands r JOIN cbands c ON r.band{b} = c.band{b}"
        for b in range(N_MINHASH // 2)
    )
    return f"""
WITH corpus AS (
  SELECT cast(doc_id as varchar) AS doc_id, source, text
  FROM documents WHERE doc_id % 10 < 8),
rnd AS (
  SELECT cast(doc_id as varchar) AS doc_id, source, text
  FROM documents WHERE doc_id % 10 >= 8
  UNION ALL
  SELECT cast(doc_id as varchar) || '_nd', source,
         substring(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 0),
ctoks AS (SELECT doc_id, {shingle} FROM corpus),
csigs AS (SELECT doc_id, {_KM_MINHASH_SQL}
          FROM ctoks WHERE tok != '' GROUP BY doc_id),
cbands AS (SELECT doc_id, {bands} FROM csigs),
rtoks AS (SELECT doc_id, {shingle} FROM rnd),
rsigs AS (SELECT doc_id, {_KM_MINHASH_SQL}
          FROM rtoks WHERE tok != '' GROUP BY doc_id),
rbands AS (SELECT doc_id, {bands} FROM rsigs),
hits AS ({hits})
SELECT source, count(*) AS n_round_docs,
       cast(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) as bigint)
         AS n_dropped,
       cast(sum(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END) as bigint)
         AS n_kept,
       min(CASE WHEN h.doc_id IS NOT NULL THEN r.doc_id END)
         AS first_dropped_id
FROM rnd r LEFT JOIN (SELECT DISTINCT doc_id FROM hits) h ON r.doc_id = h.doc_id
GROUP BY source
"""


O_DEDUP_INCREMENTAL = _o_dedup_incremental()


# ------------------------------------- exact-substring dedup (ExactSubstr)

SUBSTR_W = 16  # tokens per window
SUBSTR_STRIDE = 8


def q_dedup_exact_substring(spark, sf):
    """Exact-substring dedup (Lee et al. 2022, 'Deduplicating Training
    Data Makes Language Models Better', ExactSubstr — public): flag
    documents whose token stream shares LONG EXACT substrings with
    other documents — the third dedup mode next to near-dup (minhash)
    and exact-line (line_dedup). Suffix arrays don't distribute; the
    standard distributed form is hashed fixed-width windows: every
    SUBSTR_W-token window at stride SUBSTR_STRIDE is md5-hashed, a
    window is SHARED if its content occurs in >=2 distinct docs, and a
    doc's duplication coverage = shared windows / its windows (docs
    with coverage >= 0.5 are flagged). PLANTED: every doc with
    doc_id%5==0 gets an `_xs` companion carrying its first
    2*W + STRIDE tokens — the companion's windows all duplicate the
    original's prefix, so every companion is flagged at coverage 1.0
    (the original's own coverage is length-dependent: 4 shared prefix
    windows over its window count).

    100 TB shape: stride bounds the window blowup to ~n/STRIDE rows
    per doc; ONE hash exchange on window content (the groupBy and the
    join back to docs reuse it), then doc- and source-keyed aggs. No
    quadratic pass, no per-row Python.

    Reference parity: twAwler dedups tweets whole (unique index,
    dumpall.py:61-81); sub-document exact overlap is the
    training-pipeline generalization."""
    d = _t(spark, sf, "documents")
    orig = d.select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text"
    )
    toks0 = F.split(F.col("text"), " ")
    planted = d.where(F.col("doc_id") % 5 == 0).select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_xs")).alias("doc_id"),
        "source",
        F.concat_ws(
            " ", F.slice(toks0, 1, 2 * SUBSTR_W + SUBSTR_STRIDE)
        ).alias("text"),
    )
    alld = orig.unionByName(planted)

    def win_cols(toks):
        # let-bound tokens: the stride-window transform would otherwise
        # re-evaluate split() per window (O(len^2/stride) per doc)
        n = F.size(toks)
        nw = F.greatest(
            F.floor((n - SUBSTR_W) / F.lit(SUBSTR_STRIDE)).cast("int") + 1,
            F.lit(1),
        )
        wins = F.transform(
            F.sequence(F.lit(0), nw - 1),
            lambda j: F.md5(
                F.concat_ws(" ", F.slice(toks, j * SUBSTR_STRIDE + 1, SUBSTR_W))
            ),
        )
        return F.struct(nw.alias("nw"), wins.alias("wins"))

    wc = _let(F.split(F.col("text"), " "), win_cols)
    from .operators.dedup import spread_for_explode

    ew = spread_for_explode(
        alld.select("doc_id", "source", wc.alias("__wc"), )
        .select(
            "doc_id", "source",
            F.col("__wc.nw").alias("nw"), F.col("__wc.wins").alias("wins"),
        ),
        "doc_id",
    ).select("doc_id", "source", "nw", F.explode("wins").alias("w"))
    shared = (
        ew.groupBy("w")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("w")
    )
    cov = (
        ew.join(shared.withColumn("s", F.lit(1)), "w", "left")
        .groupBy("doc_id", "source", "nw")
        .agg(F.sum(F.when(F.col("s").isNotNull(), 1).otherwise(0)).alias("ns"))
        .select(
            "source",
            F.round(F.col("ns") / F.col("nw"), 4).alias("cov"),
        )
    )
    return cov.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("cov") >= 0.5, 1).otherwise(0)).alias("n_flagged"),
        F.round(F.avg("cov"), 4).alias("avg_coverage"),
    )


def _o_dedup_exact_substring() -> str:
    W, S = SUBSTR_W, SUBSTR_STRIDE
    return f"""
WITH alld AS (
  SELECT cast(doc_id as varchar) AS doc_id, source, text FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_xs', source,
         array_to_string((string_split(text, ' '))[1:{2 * W + S}], ' ')
  FROM documents WHERE doc_id % 5 = 0),
t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks,
         greatest(cast(floor((len(string_split(text, ' ')) - {W}) / {S}.0)
                       as int) + 1, 1) AS nw
  FROM alld),
ej AS (
  SELECT doc_id, source, nw, toks, unnest(range(0, nw)) AS j FROM t),
ew AS (
  SELECT doc_id, source, nw,
         md5(array_to_string(toks[(j * {S} + 1):(j * {S} + {W})], ' ')) AS w
  FROM ej),
shared AS (SELECT w FROM ew GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT source,
         round(sum(CASE WHEN s.w IS NOT NULL THEN 1 ELSE 0 END) * 1.0
               / any_value(nw), 4) AS cov
  FROM ew LEFT JOIN shared s ON ew.w = s.w
  GROUP BY doc_id, source)
SELECT source, count(*) AS n_docs,
       cast(sum(CASE WHEN cov >= 0.5 THEN 1 ELSE 0 END) as bigint) AS n_flagged,
       round(avg(cov), 4) AS avg_coverage
FROM cov GROUP BY source
"""


O_DEDUP_EXACT_SUBSTRING = _o_dedup_exact_substring()


# ------------------------------------------------- DSIR importance select

DSIR_B = 256  # hashed n-gram feature buckets (DSIR uses 10^4; scaled to sf)


def q_dsir_select(spark, sf):
    """Data Selection via Importance Resampling (Xie et al. 2023,
    public arXiv:2302.03169) — the hashed-n-gram variant: features are
    word uni+bigrams hashed into DSIR_B buckets (portable md5
    arithmetic, identical on both engines); the target distribution is
    the ``lang='en'`` slice, the raw distribution the whole corpus,
    both Laplace-smoothed; a document's importance weight is the sum
    of ln(p_target/p_raw) over its feature occurrences. Deterministic
    variant of the paper's Gumbel-top-k: emit the probe slice with its
    weight and a selected flag (weight > 0 ⇔ more target-like than
    raw).

    100 TB shape: the bucket table is DSIR_B rows (broadcast both
    ways), so the job is two map-side-combinable shuffles — feature
    counts by bucket, then weights by doc — plus a linear explode.
    Nothing global, no window. Reference tie-in: the same selection
    shape as the tracked-set priority scoring (twkit/crawler/freq.py
    score ordering), applied to corpus curation."""
    # Per-doc hashed-feature BUCKET COUNTS inside Arrow batches (guide
    # §4.2): features hash to DSIR_B=64 buckets, so each doc reduces to
    # <=64 exact-integer (bucket, count) rows map-side — the 8M-row
    # feature explode and its two consuming shuffles shrink ~4x, and the
    # portable md5 arithmetic is bit-identical in C. The per-doc weight
    # becomes sum(lw * c) — same value as the per-occurrence sum up to
    # float association (both engines already sum occurrences in
    # different orders; round(.,4) is the contract).
    import pandas as pd

    from .operators.dedup import spread_for_explode

    d = spread_for_explode(_t(spark, sf, "documents"), "doc_id")

    def feat_counts(batches):
        import hashlib

        for pdf in batches:
            out_doc, out_lang, out_b, out_c = [], [], [], []
            for doc_id, lang, text in zip(pdf["doc_id"], pdf["lang"], pdf["text"]):
                toks = text.split(" ")
                feats = [t for t in toks if t]
                # every 2-token window qualifies (the join inserts the
                # space the original's contains-' ' filter tested for)
                for i in range(len(toks) - 1):
                    feats.append(toks[i] + " " + toks[i + 1])
                counts = {}
                for f in feats:
                    hx = hashlib.md5(f.encode("utf-8")).hexdigest()
                    b = int(hx[0:15], 16) % DSIR_B
                    counts[b] = counts.get(b, 0) + 1
                for b, c in counts.items():
                    out_doc.append(int(doc_id))
                    out_lang.append(lang)
                    out_b.append(b)
                    out_c.append(c)
            yield pd.DataFrame(
                {"doc_id": out_doc, "lang": out_lang, "b": out_b, "c": out_c}
            )

    feats = (
        d.select("doc_id", "lang", "text")
        .mapInPandas(feat_counts, schema="doc_id long, lang string, b long, c long")
        .localCheckpoint(eager=False)
    )
    stats = feats.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0)).alias("ct"),
        F.sum("c").alias("cr"),
    )
    tot = stats.agg(F.sum("ct").alias("t"), F.sum("cr").alias("r"))
    lr = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        F.log(
            ((F.col("ct") + 1.0) / (F.col("t") + DSIR_B))
            / ((F.col("cr") + 1.0) / (F.col("r") + DSIR_B))
        ).alias("lw"),
    )
    w = (
        feats.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("lw") * F.col("c")).alias("wt"))
    )
    return w.where(F.col("doc_id") < 100).select(
        "doc_id",
        "lang",
        F.round(F.col("wt"), 4).alias("dsir_weight"),
        F.when(F.col("wt") > 0, 1).otherwise(0).cast("long").alias("selected"),
    )


O_DSIR_SELECT = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
feats AS (
  SELECT doc_id, lang,
         ('0x' || substring(md5(f), 1, 15))::BIGINT % {DSIR_B} AS b
  FROM (
    SELECT doc_id, lang,
           unnest(list_concat(toks,
             list_filter(
               list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                 i -> array_to_string(toks[i:i+1], ' ')),
               g -> contains(g, ' ')))) AS f
    FROM t)
  WHERE f != ''),
stats AS (
  SELECT b,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
         count(*) AS cr
  FROM feats GROUP BY b),
tot AS (SELECT sum(ct) AS t, sum(cr) AS r FROM stats),
lr AS (
  SELECT b, ln(((ct + 1.0) / (t + {DSIR_B})) / ((cr + 1.0) / (r + {DSIR_B}))) AS lw
  FROM stats, tot),
w AS (
  SELECT doc_id, lang, sum(lw) AS wt
  FROM feats JOIN lr USING (b) GROUP BY doc_id, lang)
SELECT doc_id, lang, round(wt, 4) AS dsir_weight,
       cast(CASE WHEN wt > 0 THEN 1 ELSE 0 END as bigint) AS selected
FROM w WHERE doc_id < 100
"""


# --------------------------------------------- CCNet LM quality bucketing


def q_ccnet_lm_buckets(spark, sf):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, public
    arXiv:1911.00359): train a per-language word-unigram LM on a
    reference slice (``source='src0'`` stands in for the curated LM
    corpus), score every document by its mean negative log-likelihood
    (add-one smoothing over V known words + one OOV bucket), then cut
    each language into head/middle/tail at the exact 1/3 and 2/3
    score percentiles. Emits per (lang, bucket) doc counts and mean
    NLL.

    100 TB shape: the LM is a per-lang word table joined broadcast-
    style onto the token stream (here a plain join — at 10^10 docs the
    LM stays small enough to broadcast per language); scoring is one
    map-side-combinable groupBy(doc); the tercile thresholds are a
    per-lang agg (exact percentile for oracle parity — production at
    scale would use approx_percentile) broadcast back. No windows."""
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang", "source", "text"
    )
    # words feeds both the LM estimation and the scoring join —
    # checkpoint so the token explode runs once, not twice
    words = d.select(
        "doc_id", "lang", "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "").localCheckpoint(eager=False)
    lm = (
        words.where(F.col("source") == "src0")
        .groupBy("lang", "w")
        .agg(F.count("*").alias("c"))
    )
    lm_tot = lm.groupBy("lang").agg(
        F.sum("c").alias("t"), F.count("*").alias("v")
    )
    scored = (
        words.join(F.broadcast(lm), ["lang", "w"], "left")
        .join(F.broadcast(lm_tot), "lang", "left")
        .select(
            "doc_id",
            "lang",
            (
                -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.coalesce(F.col("t"), F.lit(0)) + F.coalesce(F.col("v"), F.lit(0)) + 1.0)
                )
            ).alias("nll"),
        )
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg("nll"), 6).alias("score"))
        # scored feeds both the tercile agg and the bucketing join —
        # checkpoint so the scoring pass runs once, not twice
        .localCheckpoint(eager=False)
    )
    # the tercile fractions are pinned as exact double literals so both
    # engines interpolate at bit-identical ranks (decimal 1.0/3 would
    # truncate to 0.333333 on the Spark side only)
    thr = scored.groupBy("lang").agg(
        F.expr(
            f"percentile(score, array({1 / 3!r}D, {2 / 3!r}D))"
        ).alias("q")
    ).select("lang", F.col("q")[0].alias("t1"), F.col("q")[1].alias("t2"))
    bucketed = scored.join(F.broadcast(thr), "lang").select(
        "lang",
        "score",
        F.when(F.col("score") <= F.col("t1"), "head")
        .when(F.col("score") <= F.col("t2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"), F.round(F.avg("score"), 4).alias("avg_nll")
    )


O_CCNET_LM_BUCKETS = """
WITH words AS (
  SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS w
  FROM documents),
wf AS (SELECT * FROM words WHERE w != ''),
lm AS (
  SELECT lang, w, count(*) AS c FROM wf WHERE source = 'src0'
  GROUP BY lang, w),
lm_tot AS (SELECT lang, sum(c) AS t, count(*) AS v FROM lm GROUP BY lang),
scored AS (
  SELECT doc_id, wf.lang,
         round(avg(-ln((coalesce(lm.c, 0) + 1.0)
                       / (coalesce(lm_tot.t, 0) + coalesce(lm_tot.v, 0) + 1.0))), 6)
           AS score
  FROM wf
  LEFT JOIN lm ON wf.lang = lm.lang AND wf.w = lm.w
  LEFT JOIN lm_tot ON wf.lang = lm_tot.lang
  GROUP BY doc_id, wf.lang),
thr AS (
  SELECT lang,
         quantile_cont(score, 0.3333333333333333::DOUBLE) AS t1,
         quantile_cont(score, 0.6666666666666666::DOUBLE) AS t2
  FROM scored GROUP BY lang),
bucketed AS (
  SELECT scored.lang, score,
         CASE WHEN score <= t1 THEN 'head'
              WHEN score <= t2 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM scored JOIN thr ON scored.lang = thr.lang)
SELECT lang, bucket, count(*) AS n_docs, round(avg(score), 4) AS avg_nll
FROM bucketed GROUP BY lang, bucket
"""


# --------------------------------------------------------------- SemDeDup

SEMDEDUP_T = 0.99  # within-cluster cosine above this = semantic duplicate


def q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023, public arXiv:2303.09540): cluster
    the embedding space (the IVF deterministic coarse quantizer —
    every IVF_CENTROID_MOD-th base vector is a centroid, map-side
    argmax-cosine assignment against ONE broadcast centroid row), then
    inside each cluster drop every vector that has a semantic
    duplicate (cos ≥ SEMDEDUP_T) which sits FARTHER from the centroid
    — the paper's keep-the-extreme-point rule — with vid as the
    deterministic tie-break (doubled-vector plants tie exactly on
    centroid-cosine, so the plant '_d' drops and the base survives).
    Emits the per-cluster audit row: size, dropped count, kept count.

    100 TB shape: identical to production SemDeDup — the corpus never
    shuffles for assignment (broadcast centroids), the quadratic step
    is confined inside clusters whose size the quantizer controls
    (k ~ sqrt(N) keeps cells ~sqrt(N)), and the pair predicate is a
    cell-partitioned self-join, never all-pairs. Plants: a doubled
    copy of every vector (same direction ⇒ cos == 1 with its base,
    bit-identical centroid-cosine on both engines)."""
    # Optimized shape (guide §4.2): the argmax assignment and the
    # in-cell pair scan are dense linear algebra — run them as BLAS
    # matmuls inside Arrow batches instead of N×C interpreted HOF dot
    # products under a window (the old plan shuffled N×C rows each
    # carrying the 64-float embedding through a single sort; 245 s at
    # sf1.0). The centroid table is bounded (k ~ sqrt(N), the paper's
    # regime) so it broadcasts via the task closure; the only exchange
    # left is the N-row repartition by cell.
    import numpy as np
    import pandas as pd

    from .operators.dedup import spread_for_explode

    e = _t(spark, sf, "embeddings")
    cent_rows = (
        e.where(F.col("vec_id") % IVF_CENTROID_MOD == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    cent_rows.sort(key=lambda r: r["vec_id"])
    cids = np.array([r["vec_id"] for r in cent_rows], dtype=np.int64)
    cmat = np.array([r["embedding"] for r in cent_rows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))

    base = e.select(F.col("vec_id").cast("string").alias("vid"), "embedding")
    planted = e.select(
        F.concat(F.col("vec_id").cast("string"), F.lit("_d")).alias("vid"),
        F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")).alias(
            "embedding"
        ),
    )
    alle = spread_for_explode(base.unionByName(planted), "vid")

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = np.sqrt((x * x).sum(axis=1))
            cos = (x @ cmat.T) / np.outer(n, cnorm)
            # argmax over columns sorted by cid asc: ties pick the
            # first (= smallest cid), the window's (cos desc, cid asc)
            k = np.argmax(cos, axis=1)
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"],
                    "cell": cids[k],
                    "cos_c": cos[np.arange(len(pdf)), k],
                    "embedding": pdf["embedding"],
                }
            )

    assigned = alle.mapInPandas(
        assign, schema="vid string, cell long, cos_c double, embedding array<float>"
    )

    def cell_audit(pdf):
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        n = np.sqrt((x * x).sum(axis=1))
        pair = (x @ x.T) / np.outer(n, n)
        cos_c = pdf["cos_c"].to_numpy()
        vid = pdf["vid"].to_numpy()
        # b beats a: closer to the centroid, vid as deterministic tie
        better = (cos_c[None, :] < cos_c[:, None]) | (
            (cos_c[None, :] == cos_c[:, None]) & (vid[None, :] < vid[:, None])
        )
        dup = pair >= SEMDEDUP_T
        np.fill_diagonal(dup, False)  # the a.vid != b.vid guard
        n_drop = int((dup & better).any(axis=1).sum())
        m = len(pdf)
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])],
                "n_vectors": [m],
                "n_dropped": [n_drop],
                "n_kept": [m - n_drop],
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        cell_audit, schema="cell long, n_vectors long, n_dropped long, n_kept long"
    )


def _o_semdedup() -> str:
    return f"""
WITH alle AS (
  SELECT cast(vec_id as varchar) AS vid, embedding FROM embeddings
  UNION ALL
  SELECT cast(vec_id as varchar) || '_d',
         list_transform(embedding, x -> cast(x * cast(2.0 as float) as float))
  FROM embeddings),
vn AS (
  SELECT vid, embedding,
         sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
           i -> embedding[i]::double * embedding[i]::double), (x, y) -> x + y)) AS nrm
  FROM alle),
cents AS (
  SELECT vec_id AS cid, embedding AS cvec,
         sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
           i -> embedding[i]::double * embedding[i]::double), (x, y) -> x + y)) AS cnorm
  FROM embeddings WHERE vec_id % {IVF_CENTROID_MOD} = 0),
assigned AS (
  SELECT vid, embedding, nrm, cid AS cell, cos_c FROM (
    SELECT v.vid, v.embedding, v.nrm, c.cid,
           {_o_cos('v.embedding', 'c.cvec', 'v.nrm', 'c.cnorm')} AS cos_c,
           row_number() OVER (PARTITION BY v.vid
             ORDER BY {_o_cos('v.embedding', 'c.cvec', 'v.nrm', 'c.cnorm')} DESC,
                      c.cid ASC) AS rn
    FROM vn v CROSS JOIN cents c) WHERE rn = 1),
dropped AS (
  SELECT DISTINCT a.vid
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vid <> b.vid
   AND (b.cos_c < a.cos_c OR (b.cos_c = a.cos_c AND b.vid < a.vid))
  WHERE {_o_cos('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')} >= {SEMDEDUP_T}),
marked AS (
  SELECT assigned.cell, CASE WHEN d.vid IS NOT NULL THEN 1 ELSE 0 END AS dr
  FROM assigned LEFT JOIN dropped d ON assigned.vid = d.vid)
SELECT cell, count(*) AS n_vectors,
       cast(sum(dr) as bigint) AS n_dropped,
       cast(count(*) - sum(dr) as bigint) AS n_kept
FROM marked GROUP BY cell
"""


O_SEMDEDUP = _o_semdedup()


# ------------------------------------------------ perceptual-hash dedup


def q_media_phash_dedup(spark, sf):
    """Image near-dup via perceptual difference-hash (dHash — the
    public average/difference-hash family, e.g. pHash.org): every
    document gets a REAL gradient 24-bit BMP plus a brightness-shifted
    plant ('_p': different bytes, so exact/content-id dedup misses it;
    identical dHash, so the perceptual tier catches it). The decode is
    real byte work — header parse, padding strip, numpy block-mean
    pooling, adjacent-column comparisons — inside the sanctioned
    Arrow mapInPandas surface (operators/multimodal.py:dhash_bytes).
    Output: one audit row per hash bucket with >= 2 members.

    100 TB shape: hashing is map-only over the binary column; the
    bucket groupBy is one shuffle on a 56-bit key (near-uniform for
    real images, so no skew surface); cross-image work never happens —
    candidate pairs exist only inside equal-hash buckets, exactly like
    the MinHash band-bucket design. Reference analog: profilepics.py
    avatar de-duplication by content (S10), upgraded from byte-equality
    to perceptual equality."""
    from .operators.multimodal import attach_gradient_bmp_media, decode_image_dhash

    d = _t(spark, sf, "documents")
    base = attach_gradient_bmp_media(d, "doc_id")
    plant = attach_gradient_bmp_media(d, "doc_id", shift=8, ref_suffix="_p")
    hashed = decode_image_dhash(base.unionByName(plant))
    return (
        hashed.groupBy("dhash")
        .agg(
            F.count("*").alias("n_images"),
            F.min("media_ref").alias("first_ref"),
        )
        .where(F.col("n_images") >= 2)
    )


O_MEDIA_PHASH_DEDUP = """
WITH imgs AS (
  SELECT cast(doc_id as varchar) AS media_ref, doc_id FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_p', doc_id FROM documents),
hashed AS (
  SELECT media_ref,
         -- cast: list_sum yields HUGEINT (the r4 oracle-type trap)
         cast(list_sum(list_transform(range(0, 56), k ->
           CASE WHEN (13 * doc_id + 37 * ((k % 7) + 1) + 59 * (k // 7)) % 192
                   > (13 * doc_id + 37 * (k % 7) + 59 * (k // 7)) % 192
                THEN 1::BIGINT << k ELSE 0 END)) as bigint) AS dhash
  FROM imgs)
SELECT dhash, count(*) AS n_images, min(media_ref) AS first_ref
FROM hashed GROUP BY dhash HAVING count(*) >= 2
"""


# ------------------------------------------------ audio fingerprint dedup


def q_audio_fp_dedup(spark, sf):
    """Audio near-dup via energy-delta fingerprinting (the public
    Shazam-family shape: window energies -> delta sign bits): every
    document gets a REAL mono PCM16 WAV plus a gain-shifted plant
    ('_q': different bytes — every sample moved — so byte/content-id
    dedup misses it; identical fingerprint, since a non-clipping gain
    preserves every energy ordering). Decode is real byte work — RIFF
    chunk walk, numpy de-interleave, window-energy reduction — inside
    the sanctioned Arrow surface (multimodal.py:audio_fingerprint_bytes).
    Output: one audit row per fingerprint bucket with >= 2 members.

    100 TB shape: map-only hashing over the binary column + one
    groupBy on the fingerprint key — identical topology to
    media_phash_dedup and the MinHash bands. Reference analog: the
    media integrity/dedup sweeps over fetched payloads (S10)."""
    from .operators.multimodal import attach_tone_wav_media, decode_audio_fingerprint

    d = _t(spark, sf, "documents")
    base = attach_tone_wav_media(d, "doc_id")
    plant = attach_tone_wav_media(d, "doc_id", gain=10, ref_suffix="_q")
    hashed = decode_audio_fingerprint(base.unionByName(plant))
    return (
        hashed.groupBy("afp")
        .agg(
            F.count("*").alias("n_clips"),
            F.min("media_ref").alias("first_ref"),
        )
        .where(F.col("n_clips") >= 2)
    )


O_AUDIO_FP_DEDUP = """
WITH clips AS (
  SELECT cast(doc_id as varchar) AS media_ref, doc_id FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_q', doc_id FROM documents),
hashed AS (
  SELECT media_ref,
         -- cast: list_sum yields HUGEINT (the r4 oracle-type trap)
         cast(list_sum(list_transform(range(0, 15), w ->
           CASE WHEN (11 * doc_id + 29 * (w + 1)) % 180
                   > (11 * doc_id + 29 * w) % 180
                THEN 1::BIGINT << w ELSE 0 END)) as bigint) AS afp
  FROM clips)
SELECT afp, count(*) AS n_clips, min(media_ref) AS first_ref
FROM hashed GROUP BY afp HAVING count(*) >= 2
"""


# ------------------------------------------ fastText-style quality filter

QC_B = 64  # hashed feature buckets (fastText ships 2M; scaled to sf)
# Deterministic integer weight table standing in for the trained-model
# artifact (training the classifier is out of scope — INFERENCE is the
# pipeline stage). Integer weights keep the per-doc feature sum exact
# on both engines: no float-accumulation-order divergence.
QC_W = [((b * 2654435761 + 40503) % 2003) - 1001 for b in range(QC_B)]
QC_BIAS = 0.05


def q_quality_classifier(spark, sf):
    """Model-based quality filtering — the fastText-architecture
    classifier gate (Joulin et al. 2016, arXiv:1607.01759) that DCLM
    (arXiv:2406.11794) and FineWeb-Edu (arXiv:2406.17557) run as their
    headline curation stage: word uni+bigram features hashed into QC_B
    buckets, doc score = sigmoid(mean bucket weight / 1000 + bias),
    keep if score >= 0.5 (sigmoid(x) >= 0.5 iff x >= 0, so the flag
    compares exact integer arithmetic). Output: per-(lang, source)
    funnel audit — docs, kept, mean score.

    100 TB shape: MAP-ONLY. The weight table is a plan literal (at
    fastText's real bucket counts, a broadcast array); the score is a
    per-row HOF fold, so the corpus NEVER shuffles — the only exchange
    is the tiny (lang, source) rollup. Contrast dsir_select, which
    must first ESTIMATE its bucket tables with two extra shuffles:
    classifier inference is the cheapest filter in the funnel, which
    is why the public pipelines run it at full crawl scale.

    Reference parity: the corpus-side twin of the crawl-side quality
    ordering (twkit/crawler/freq.py score ranking)."""
    # Per-doc inference inside Arrow batches (guide §4.2): the hashed
    # uni+bigram features, the bucket ids and the weight sum are exact
    # integer arithmetic (portable md5, integer model weights), so the
    # C-md5 Python evaluation is bit-identical to the interpreted
    # per-feature HOF fold it replaces; the sigmoid's float enters only
    # the >=0.5 flag (a sign test on the exact integer sum) and a
    # round(...,4) mean. Still MAP-ONLY: the corpus never shuffles.
    import math

    import pandas as pd

    from .operators.dedup import spread_for_explode

    d = spread_for_explode(_t(spark, sf, "documents"), "doc_id")

    def score_docs(batches):
        import hashlib

        for pdf in batches:
            out_lang, out_src, out_nf, out_s = [], [], [], []
            for lang, src, text in zip(pdf["lang"], pdf["source"], pdf["text"]):
                toks = text.lower().split(" ")
                feats = [t for t in toks if t]
                # every 2-token window qualifies (the join inserts the
                # space the original's contains-' ' filter tests for),
                # including windows with empty components — exact parity
                # with concat_ws over slice
                for i in range(len(toks) - 1):
                    feats.append(toks[i] + " " + toks[i + 1])
                nf = len(feats)
                if nf == 0:
                    continue
                ssum = 0
                for f in feats:
                    hx = hashlib.md5(f.encode("utf-8")).hexdigest()
                    ssum += QC_W[int(hx[0:15], 16) % QC_B]
                s = 1.0 / (1.0 + math.exp(-(ssum / (nf * 1000.0) + QC_BIAS)))
                out_lang.append(lang)
                out_src.append(src)
                out_nf.append(nf)
                out_s.append(s)
            yield pd.DataFrame(
                {"lang": out_lang, "source": out_src, "nf": out_nf, "s": out_s}
            )

    scored = d.select("doc_id", "lang", "source", "text").mapInPandas(
        score_docs, schema="lang string, source string, nf int, s double"
    )
    return scored.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("s") >= 0.5, 1).otherwise(0)).alias("n_kept"),
        F.round(F.avg("s"), 4).alias("avg_score"),
    )


_QC_W_SQL = ", ".join(f"({b}, {w})" for b, w in enumerate(QC_W))

O_QUALITY_CLASSIFIER = f"""
WITH w AS (SELECT * FROM (VALUES {_QC_W_SQL}) AS w(b, wt)),
t AS (
  SELECT doc_id, lang, source, string_split(lower(text), ' ') AS toks
  FROM documents),
feats AS (
  SELECT doc_id, lang, source,
         ('0x' || substring(md5(f), 1, 15))::BIGINT % {QC_B} AS b
  FROM (
    SELECT doc_id, lang, source,
           unnest(list_concat(toks,
             list_filter(
               list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                 i -> array_to_string(toks[i:i+1], ' ')),
               g -> contains(g, ' ')))) AS f
    FROM t)
  WHERE f != ''),
s AS (
  SELECT doc_id, lang, source,
         1.0 / (1.0 + exp(-(cast(sum(wt) as bigint)
                            / (count(*) * 1000.0) + {QC_BIAS}))) AS s
  FROM feats JOIN w USING (b)
  GROUP BY doc_id, lang, source)
SELECT lang, source, count(*) AS n_docs,
       cast(sum(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END) as bigint) AS n_kept,
       round(avg(s), 4) AS avg_score
FROM s GROUP BY lang, source
"""


# --------------------------------------- content-defined chunking dedup

CDC_W = 8  # rolling-hash window (chars)
CDC_D = 32  # boundary divisor -> expected chunk ~32 chars
_CDC_POW = [31**j for j in range(CDC_W)]


def q_dedup_cdc(spark, sf):
    """Content-defined chunking dedup (Rabin chunking, LBFS —
    Muthitacharoen et al., SOSP 2001; FastCDC, Xia et al., USENIX ATC
    2016 — both public): chunk boundaries are set by CONTENT (a char
    n-gram rolling hash hitting 0 mod CDC_D), not by position, so an
    INSERTION only perturbs the chunks it touches — every boundary
    after it realigns. That is the failure mode of fixed-stride
    windows (dedup_exact_substring): a one-token prefix insertion
    shifts every stride window, but CDC recovers all shared content.
    PLANTED: every doc with doc_id%4==0 gets an `_cdc` companion with
    a 6-char prefix insertion ('qq zz ') — different bytes at every
    stride offset, yet CDC coverage ~1 - firstchunk/len, so both the
    companion and its original are flagged at the 0.5 threshold.
    Chunks = segments between boundary positions (pure Rabin form;
    FastCDC's min/max clamps are a sequential constraint, layered in
    production by masking the hash, not rebuilt here). A chunk is
    SHARED if its content hash occurs in >= 2 distinct docs; doc
    coverage = shared bytes / doc bytes.

    100 TB shape: the rolling hash is a per-row O(len * W) HOF fold
    (embarrassingly parallel, no Python); the explode emits ~len/D
    chunk rows per doc; then ONE hash exchange on chunk content (the
    shared-groupBy and the join back reuse it) and doc/source-keyed
    rollups — exactly the dedup_exact_substring topology, with
    insertion robustness the stride form lacks.

    Reference parity: twAwler dedups tweets whole (unique index,
    dumpall.py:61-81); CDC is the storage/web-archive generalization
    for long interleaved documents."""
    d = _t(spark, sf, "documents")
    orig = d.select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text"
    )
    planted = d.where(F.col("doc_id") % 4 == 0).select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_cdc")).alias("doc_id"),
        "source",
        F.concat(F.lit("qq zz "), F.col("text")).alias("text"),
    )
    alld = orig.unionByName(planted)

    # Vectorized boundary scan (guide §4.2): the rolling hash is an
    # exact int64 polynomial over codepoints, so a numpy
    # sliding-window matmul computes bit-identical hash values to the
    # per-position interpreted HOF fold it replaces (which cost
    # O(len * W) interpreted expression evaluations per row — the
    # dominant stage at sf1.0). Codepoints come from a UTF-32 view of
    # the string, matching Spark's substr/length codepoint semantics;
    # chunk slicing happens in Python (codepoint-exact), everything
    # downstream (md5, shared-chunk groupBy, coverage rollup) is
    # unchanged.
    import numpy as np
    import pandas as pd

    from .operators.dedup import spread_for_explode

    pow_rev = np.array(_CDC_POW[::-1], dtype=np.int64)

    def chunker(batches):
        for pdf in batches:
            out_doc, out_src, out_len, out_c = [], [], [], []
            for doc_id, src, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                ln = len(codes)
                if ln - 1 < CDC_W:
                    bpos = []
                else:
                    win = np.lib.stride_tricks.sliding_window_view(
                        codes, CDC_W
                    )[: ln - CDC_W]
                    h = win @ pow_rev
                    bpos = (np.nonzero(h % CDC_D == 0)[0] + CDC_W).tolist()
                bounds = [0] + bpos + [ln]
                for a, b in zip(bounds, bounds[1:]):
                    if b > a:
                        out_doc.append(doc_id)
                        out_src.append(src)
                        out_len.append(ln)
                        out_c.append(text[a:b])
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "source": out_src,
                    "len": out_len,
                    "c": out_c,
                }
            )

    ec = spread_for_explode(
        alld.select("doc_id", "source", "text"), "doc_id"
    ).mapInPandas(chunker, schema="doc_id string, source string, len int, c string")
    ech = ec.where(F.length("c") > 0).select(
        "doc_id",
        "source",
        "len",
        F.md5("c").alias("h"),
        F.length("c").alias("cl"),
    )
    shared = (
        ech.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    cov = (
        ech.join(shared.withColumn("s", F.lit(1)), "h", "left")
        .groupBy("doc_id", "source", "len")
        .agg(
            F.sum(
                F.when(F.col("s").isNotNull(), F.col("cl")).otherwise(0)
            ).alias("sb")
        )
        .select(
            "source", F.round(F.col("sb") / F.col("len"), 4).alias("cov")
        )
    )
    return cov.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("cov") >= 0.5, 1).otherwise(0)).alias("n_flagged"),
        F.round(F.avg("cov"), 4).alias("avg_coverage"),
    )


def _o_dedup_cdc() -> str:
    rh = " + ".join(
        f"ascii(substring(text, i - {j}, 1))::BIGINT * {_CDC_POW[j]}"
        for j in range(CDC_W)
    )
    return f"""
WITH alld AS (
  SELECT cast(doc_id as varchar) AS doc_id, source, text FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_cdc', source, 'qq zz ' || text
  FROM documents WHERE doc_id % 4 = 0),
t AS (SELECT doc_id, source, text, length(text) AS len FROM alld),
posn AS (
  SELECT doc_id, text, len, unnest(range({CDC_W}, len)) AS i FROM t),
bnd AS (
  SELECT doc_id, i FROM posn WHERE ({rh}) % {CDC_D} = 0),
bounds AS (
  SELECT doc_id, 0 AS i FROM t
  UNION ALL SELECT doc_id, i FROM bnd
  UNION ALL SELECT doc_id, len FROM t),
ch AS (
  SELECT b.doc_id, t.source, t.len,
         substring(t.text, b.i + 1,
                   lead(b.i) OVER (PARTITION BY b.doc_id ORDER BY b.i)
                   - b.i) AS c
  FROM bounds b JOIN t USING (doc_id)),
ech AS (
  SELECT doc_id, source, len, md5(c) AS h, length(c) AS cl
  FROM ch WHERE c IS NOT NULL AND length(c) > 0),
shared AS (SELECT h FROM ech GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT ech.doc_id, ech.source,
         round(cast(sum(CASE WHEN s.h IS NOT NULL THEN ech.cl ELSE 0 END)
                    as bigint) * 1.0 / any_value(ech.len), 4) AS cov
  FROM ech LEFT JOIN shared s ON ech.h = s.h
  GROUP BY ech.doc_id, ech.source)
SELECT source, count(*) AS n_docs,
       cast(sum(CASE WHEN cov >= 0.5 THEN 1 ELSE 0 END) as bigint)
         AS n_flagged,
       round(avg(cov), 4) AS avg_coverage
FROM cov GROUP BY source
"""


O_DEDUP_CDC = _o_dedup_cdc()


# ------------------------------------------------ boilerplate stripping

BP_FRAC = 0.5  # a line repeated in >= this fraction of a host's docs


def q_boilerplate_strip(spark, sf):
    """Per-host boilerplate removal (the CCNet / jusText /
    RefinedWeb-style template-line strip — public: Wenzek et al.
    arXiv:1911.00359 §3.1 dedups repeated paragraphs per snapshot;
    jusText, Pomikálek 2011, classifies header/footer blocks): a line
    is BOILERPLATE for a host when it appears in >= BP_FRAC of that
    host's documents (nav bars, footers, cookie banners — content
    repeated by the TEMPLATE, not the author). Differs from
    line_dedup, which drops global re-occurrences but keeps the first
    copy: boilerplate removal drops EVERY instance, because the first
    footer is as worthless as the thousandth. PLANTED: every doc
    carries its host's footer as a final line; every footer line must
    be detected (df = host doc count), and the natural token-window
    lines stay below the threshold.

    100 TB shape: the heavy exchanges all key on (host, line) — the
    line document-frequency aggregation (countDistinct = one expand
    round) and the audit join back; host doc counts are a tiny
    broadcast. A mega-host's df table is still one row per DISTINCT
    line and the instance stream never groups globally, so template
    skew lands on (host, line) keys, which the footer plant shows are
    high-cardinality within a host.

    Reference parity: the reference strips retweet prefixes /
    t.co wrappers before analytics (twkit/utils tweet text cleanup);
    per-template boilerplate is the web-corpus generalization."""
    d = _t(spark, sf, "documents")
    host = F.concat(F.lit("h"), F.pmod(F.col("doc_id"), F.lit(20)).cast("string"))

    def line_arr(toks):
        # let-bound tokens: the line transform would otherwise
        # re-evaluate split() per line (O(len^2/W) per doc)
        nlines = F.ceil(F.size(toks) / F.lit(float(LINE_W))).cast("int")
        return F.transform(
            F.sequence(F.lit(0), nlines - 1),
            lambda j: F.concat_ws(" ", F.slice(toks, j * LINE_W + 1, LINE_W)),
        )

    content_lines = _let(F.split(F.col("text"), " "), line_arr)
    footer = F.concat(F.lit("footer nav contact about "), host)
    lines = F.concat(content_lines, F.array(footer))
    ex = d.select(
        host.alias("host"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(lines).alias("line"),
    )
    hd = ex.groupBy("host").agg(F.countDistinct("doc_id").alias("n_docs"))
    df = ex.groupBy("host", "line").agg(
        F.countDistinct("doc_id").alias("ldf"), F.count("*").alias("inst")
    )
    boiler = df.join(F.broadcast(hd), "host").where(
        F.col("ldf") >= BP_FRAC * F.col("n_docs")
    )
    audit = (
        ex.join(
            boiler.select("host", "line").withColumn("b", F.lit(1)),
            ["host", "line"],
            "left",
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_line_instances"),
            F.sum(F.when(F.col("b").isNotNull(), 1).otherwise(0)).alias(
                "n_boiler_instances"
            ),
            F.countDistinct(
                F.when(F.col("b").isNotNull(), F.col("line"))
            ).alias("n_boiler_lines"),
            F.sum(
                F.when(F.col("b").isNotNull(), F.length("line")).otherwise(0)
            ).alias("chars_removed"),
        )
    )
    return audit.select(
        "host",
        "n_line_instances",
        "n_boiler_instances",
        "n_boiler_lines",
        "chars_removed",
        F.round(
            F.col("n_boiler_instances") / F.col("n_line_instances"), 4
        ).alias("boiler_frac"),
    )


O_BOILERPLATE_STRIP = f"""
WITH d AS (
  SELECT cast(doc_id as varchar) AS doc_id,
         'h' || cast(doc_id % 20 as varchar) AS host,
         string_split(text, ' ') AS toks
  FROM documents),
ex AS (
  SELECT host, doc_id, unnest(list_append(
    list_transform(
      range(0, cast(ceil(len(toks) / {float(LINE_W)}) as int)),
      j -> array_to_string(toks[(j * {LINE_W} + 1):(j * {LINE_W} + {LINE_W})], ' ')),
    'footer nav contact about ' || host)) AS line
  FROM d),
hd AS (SELECT host, count(DISTINCT doc_id) AS n_docs FROM ex GROUP BY host),
ldf AS (
  SELECT host, line, count(DISTINCT doc_id) AS ldf
  FROM ex GROUP BY host, line),
boiler AS (
  SELECT ldf.host, ldf.line
  FROM ldf JOIN hd ON ldf.host = hd.host
  WHERE ldf.ldf >= {BP_FRAC} * hd.n_docs),
audit AS (
  SELECT ex.host,
         count(*) AS n_line_instances,
         cast(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) as bigint)
           AS n_boiler_instances,
         count(DISTINCT CASE WHEN b.line IS NOT NULL THEN ex.line END)
           AS n_boiler_lines,
         cast(sum(CASE WHEN b.line IS NOT NULL THEN length(ex.line)
                       ELSE 0 END) as bigint) AS chars_removed
  FROM ex LEFT JOIN boiler b ON ex.host = b.host AND ex.line = b.line
  GROUP BY ex.host)
SELECT host, n_line_instances, n_boiler_instances, n_boiler_lines,
       chars_removed,
       round(n_boiler_instances * 1.0 / n_line_instances, 4) AS boiler_frac
FROM audit
"""


# --------------------------------------------- containment near-dup

CONT_SH = 5  # tokens per shingle (same as the minhash tier)
CONT_T = 0.9  # containment threshold
CONT_DF_CAP = 64  # stop-shingle document-frequency cap


def q_dedup_containment(spark, sf):
    """CONTAINMENT detection (Broder 1997, 'On the resemblance and
    containment of documents' — public): c(A,B) = |S(A) ∩ S(B)| /
    |S(A)|. Resemblance-based near-dup (minhash LSH) is blind to a
    SMALL document contained in a big one — the union dominates and
    Jaccard collapses even at containment 1.0 — so quote extraction /
    boilerplate fragments / partial scrapes need this asymmetric form.
    PLANTED: every doc with doc_id%6==0 gets a `_ct` companion
    carrying an interior slice of its tokens (not a prefix — prefix
    tricks are exact_substring's fixture): every companion shingle
    occurs in the original, containment exactly 1.0.

    100 TB shape: distinct (doc, shingle-hash) rows, document
    frequency per shingle, STOP-SHINGLE CAP (df > CONT_DF_CAP dropped
    — the standard guard, else one viral quote yields df² candidate
    pairs), pair-count aggregation on the shared-shingle join, sizes
    joined back. Candidate work is Σ df² over surviving shingles —
    bounded by the cap, never all-pairs. Same topology as
    dedup_jaccard with the asymmetric denominator.

    Reference parity: twAwler flags retweet/quote containment via the
    retweet entity (docstring of j1); shingle containment recovers the
    same relation for UNMARKED copies."""
    d = _t(spark, sf, "documents")
    orig = d.select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text"
    )
    toks0 = F.split(F.col("text"), " ")
    planted = d.where(F.col("doc_id") % 6 == 0).select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_ct")).alias("doc_id"),
        "source",
        F.concat_ws(" ", F.slice(toks0, 6, 4 * CONT_SH)).alias("text"),
    )
    alld = orig.unionByName(planted)

    # Per-doc shingle hashing inside Arrow batches (guide §4.2): one C
    # md5 per distinct window, hex output identical to F.md5, replacing
    # the interpreted per-position HOF transform + explode. The table
    # feeds sizes, the df-cap filter, AND both sides of the candidate
    # self-join — checkpoint it once so the hashing runs a single time,
    # not 5x through lineage (at warehouse scale this is the
    # materialized shingle index).
    import pandas as pd

    from .operators.dedup import spread_for_explode

    def shingle_rows(batches):
        import hashlib
        import struct

        unpack = struct.Struct(">qq").unpack
        for pdf in batches:
            out_doc, out_src, out_h1, out_h2 = [], [], [], []
            for doc_id, src, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                toks = text.split(" ")
                seen = set()
                for i in range(max(len(toks) - CONT_SH + 1, 1)):
                    sh = " ".join(toks[i : i + CONT_SH])
                    if sh in seen:
                        continue
                    seen.add(sh)
                    # the shingle key is the md5 as two signed longs —
                    # equality on (h1, h2) is equality on the full
                    # 128-bit digest, and the three h-keyed exchanges
                    # (df count, cap join, self-join) carry 16-byte
                    # keys instead of 32-char hex strings (guide §2.3)
                    a, b = unpack(hashlib.md5(sh.encode("utf-8")).digest())
                    out_doc.append(doc_id)
                    out_src.append(src)
                    out_h1.append(a)
                    out_h2.append(b)
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "source": out_src,
                    "h1": out_h1,
                    "h2": out_h2,
                }
            )

    ew = (
        spread_for_explode(alld, "doc_id")
        .select("doc_id", "source", "text")
        .mapInPandas(
            shingle_rows,
            schema="doc_id string, source string, h1 long, h2 long",
        )
        .localCheckpoint(eager=False)
    )
    sizes = ew.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # (doc_id, h) rows are unique (per-doc shingles are array_distinct),
    # so count(*) IS the document frequency — no countDistinct pass
    keep = (
        ew.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .where((F.col("sdf") >= 2) & (F.col("sdf") <= CONT_DF_CAP))
        .select("h1", "h2")
    )
    # e2 feeds BOTH sides of the candidate self-join — checkpoint so the
    # df-cap join runs once, not twice
    e2 = ew.join(keep, ["h1", "h2"]).localCheckpoint(eager=False)
    pairs = (
        e2.alias("a")
        .join(e2.alias("b"), ["h1", "h2"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.source").alias("src1"),
        )
        .agg(F.count("*").alias("inter"))
    )
    scored = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("s1")),
            "d1",
        )
        .join(
            sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("s2")),
            "d2",
        )
        .select(
            "src1",
            F.greatest(
                F.col("inter") / F.col("s1"), F.col("inter") / F.col("s2")
            ).alias("cmax"),
        )
    )
    return scored.groupBy("src1").agg(
        F.count("*").alias("n_candidate_pairs"),
        F.sum(F.when(F.col("cmax") >= CONT_T, 1).otherwise(0)).alias(
            "n_contained"
        ),
        F.round(F.avg("cmax"), 4).alias("avg_containment"),
    )


O_DEDUP_CONTAINMENT = f"""
WITH alld AS (
  SELECT cast(doc_id as varchar) AS doc_id, source, text FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_ct', source,
         array_to_string((string_split(text, ' '))[6:{5 + 4 * CONT_SH}], ' ')
  FROM documents WHERE doc_id % 6 = 0),
t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks,
         greatest(len(string_split(text, ' ')) - {CONT_SH} + 1, 1) AS nsh
  FROM alld),
ew AS (
  SELECT DISTINCT doc_id, source,
         md5(array_to_string(toks[i:(i + {CONT_SH} - 1)], ' ')) AS h
  FROM (SELECT doc_id, source, toks, unnest(range(1, nsh + 1)) AS i FROM t)),
sizes AS (SELECT doc_id, count(*) AS sz FROM ew GROUP BY doc_id),
keep AS (
  SELECT h FROM ew GROUP BY h
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {CONT_DF_CAP}),
e2 AS (SELECT ew.* FROM ew JOIN keep USING (h)),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, a.source AS src1,
         count(*) AS inter
  FROM e2 a JOIN e2 b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.source),
scored AS (
  SELECT p.src1,
         greatest(p.inter * 1.0 / s1.sz, p.inter * 1.0 / s2.sz) AS cmax
  FROM pairs p
  JOIN sizes s1 ON p.d1 = s1.doc_id
  JOIN sizes s2 ON p.d2 = s2.doc_id)
SELECT src1, count(*) AS n_candidate_pairs,
       cast(sum(CASE WHEN cmax >= {CONT_T} THEN 1 ELSE 0 END) as bigint)
         AS n_contained,
       round(avg(cmax), 4) AS avg_containment
FROM scored GROUP BY src1
"""


# --------------------------------------------- span-corruption planning

SC_SPAN = 3  # tokens per corruption block (T5 mean noise span length)
SC_MOD = 7  # a block is masked when its hash % SC_MOD == 0 (~14.3%)


def q_span_corruption(spark, sf):
    """Span-corruption planning (the T5 denoising objective, Raffel et
    al. 2020, arXiv:1910.10683 §3.1.4; UL2's R-denoiser,
    arXiv:2205.05131): partition each document's token stream into
    SC_SPAN-token blocks, mask the blocks selected by a DETERMINISTIC
    portable hash (md5(doc_id:block) % SC_MOD == 0 — the paper's iid
    noise sampling made reproducible across engines and runs, the same
    determinism-over-RNG trade train_split makes), and account the
    corrupted-input/target sequence lengths: each masked span costs
    one sentinel on BOTH sides, so input = kept + spans, target =
    masked + spans. Output: per-source corruption audit — the numbers
    a pretraining pipeline needs to provision token budgets for a
    denoising objective.

    100 TB shape: MAP-ONLY — the mask plan is a per-row HOF fold over
    the block index (no Python, no shuffle); the only exchange is the
    per-source rollup. The actual corrupted-text emission is the same
    transform with concat_ws instead of counts — identical plan.

    Reference parity: none in twAwler (crawl-side); this is the
    training-pipeline objective-planning stage over the fetched
    corpus, downstream of sequence_packing."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    nb = F.ceil(n / F.lit(float(SC_SPAN))).cast("int")
    blocks = F.sequence(F.lit(0), nb - 1)
    masked = F.filter(
        blocks,
        lambda b: F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"), F.lit(":"),
                            b.cast("string"),
                        )
                    ),
                    1, 15,
                ),
                16, 10,
            ).cast("long"),
            F.lit(SC_MOD),
        )
        == 0,
    )
    mtoks = F.aggregate(
        masked,
        F.lit(0),
        lambda acc, b: acc + F.least(F.lit(SC_SPAN), n - b * SC_SPAN),
    )
    nspans = F.size(masked)
    per = d.select(
        "source",
        n.alias("n"),
        mtoks.alias("m"),
        nspans.alias("s"),
    )
    return per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.sum("m").alias("masked_tokens"),
        F.sum("s").alias("n_spans"),
        F.sum(F.col("n") - F.col("m") + F.col("s")).alias("input_tokens"),
        F.sum(F.col("m") + F.col("s")).alias("target_tokens"),
        F.round(F.avg(F.col("m") / F.col("n")), 4).alias("avg_corrupt_frac"),
    )


O_SPAN_CORRUPTION = f"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n,
         cast(ceil(len(string_split(text, ' ')) / {float(SC_SPAN)}) as int)
           AS nb
  FROM documents),
b AS (
  SELECT doc_id, source, n, unnest(range(0, nb)) AS blk FROM t),
m AS (
  SELECT doc_id, source, n,
         CASE WHEN ('0x' || substring(md5(cast(doc_id as varchar) || ':'
                      || cast(blk as varchar)), 1, 15))::BIGINT
                   % {SC_MOD} = 0
              THEN least({SC_SPAN}, n - blk * {SC_SPAN}) ELSE 0 END AS mt
  FROM b),
per AS (
  SELECT doc_id, source, any_value(n) AS n,
         cast(sum(mt) as bigint) AS m,
         cast(sum(CASE WHEN mt > 0 THEN 1 ELSE 0 END) as bigint) AS s
  FROM m GROUP BY doc_id, source)
SELECT source, count(*) AS n_docs,
       cast(sum(n) as bigint) AS total_tokens,
       cast(sum(m) as bigint) AS masked_tokens,
       cast(sum(s) as bigint) AS n_spans,
       cast(sum(n - m + s) as bigint) AS input_tokens,
       cast(sum(m + s) as bigint) AS target_tokens,
       round(avg(m * 1.0 / n), 4) AS avg_corrupt_frac
FROM per GROUP BY source
"""


# --------------------------------------------- inverted index export

IDX_MIN_DF = 5  # export terms appearing in >= this many docs


def q_inverted_index_export(spark, sf):
    """Inverted-index build/export — the index half of the reference's
    Elasticsearch sink (S14, uservectors_to_elasticsearch.py; the
    connector itself stays out of scope per SURVEY §2.1, but the
    posting-list construction is engine work and belongs here; the
    classic MapReduce/Spark inverted-index shape is public folklore,
    e.g. Dean & Ghemawat 2004 §2 lists it as THE canonical example):
    explode (term, doc, positions), aggregate posting statistics per
    term, keep terms with document frequency >= IDX_MIN_DF. Output per
    term: df, collection frequency, posting doc-id range — the scalar
    projection of the posting list (the list itself is the same
    aggregation with collect_list, elided so the oracle compares
    scalars).

    100 TB shape: ONE exchange on term (map-side combinable counts);
    at warehouse scale the postings are written
    bucketBy(term)/sortBy(doc_id) so query-time term lookups are
    partition-pruned single-bucket scans and merges of sorted posting
    runs never re-sort. Low-df long tail dominates the row
    count but NOT the bytes; the df gate models the index's stopword/
    minimum-support policy, applied AFTER the aggregation (it cannot
    push below the groupBy).

    Reference parity: uservectors_to_elasticsearch.py exports per-user
    vectors into an index; this builds the index-side structure for
    the text surface."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    ex = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(toks).alias("term"),
    ).where(F.col("term") != "")
    idx = ex.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("cf"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
    return idx.where(F.col("df") >= IDX_MIN_DF)


O_INVERTED_INDEX_EXPORT = f"""
WITH ex AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
idx AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf,
         min(doc_id) AS first_doc, max(doc_id) AS last_doc
  FROM ex WHERE term != '' GROUP BY term)
SELECT term, df, cf, first_doc, last_doc
FROM idx WHERE df >= {IDX_MIN_DF}
"""


# ------------------------------------------------ BPE merge learning

BPE_ITERS = 3


def q_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer training: learn the first BPE_ITERS merge rules over
    the corpus (Sennrich et al., "Neural Machine Translation of Rare
    Words with Subword Units" — the BPE training loop every modern
    tokenizer runs, here at word granularity, i.e. the word2phrase
    multi-word-expression variant of the same algorithm). Per
    iteration: count every adjacent token pair (one explode + one
    groupBy), take the argmax under a deterministic tie-break, and
    apply the merge as a GREEDY NON-OVERLAPPING leftmost rewrite.

    The rewrite trick that keeps both engines identical and shuffle-
    free: sequences are encoded as double-space-joined strings with a
    two-space border, and merge (a,b) is the literal replacement
    ' a  b ' -> ' a_b ' — left-to-right non-overlapping string replace
    IS the BPE merge semantics, including consecutive occurrences
    ('a b a b' merges twice, 'l l l' merges once). Each iteration's
    survivor sequences are lazily localCheckpoint'ed so iteration i+1
    re-reads materialized state, not a 3x-replayed lineage.

    100 TB shape: per merge = one map-side-combinable pair count + a
    1-row broadcast + a map-only rewrite; the corpus shuffles once per
    merge and only on the tiny pair table. Output: (iter, left_tok,
    right_tok, n_pairs, corpus_tokens_after) — token totals prove the
    rewrites actually applied."""
    from .operators.dedup import spread_for_explode

    d = _t(spark, sf, "documents")
    toks0 = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    # the single-file corpus scans as ~6 partitions and every
    # checkpointed rewrite inherits that partitioning, so ALL
    # iterations' Arrow pair counts and rewrites would run on 6 cores —
    # spread once before the loop (guide §2.1; no-op at warehouse scale)
    s = spread_for_explode(d, "doc_id").select(
        "doc_id",
        F.concat(F.lit("  "), F.array_join(toks0, "  "), F.lit("  ")).alias("seq"),
    )
    n_toks = F.size(F.filter(F.split(F.trim(F.col("seq")), "  "), lambda x: x != ""))
    out = None
    for i in range(1, BPE_ITERS + 1):
        # adjacent-pair counting inside Arrow batches (guide §4.2): the
        # per-batch Counter pre-reduces to the tiny pair vocabulary
        # map-side (exact integers), so only |vocab_pairs| partial rows
        # per batch reach the exchange instead of the full exploded
        # pair stream
        def pair_counts(batches):
            import collections

            import pandas as pd

            for pdf in batches:
                acc = collections.Counter()
                for seq in pdf["seq"]:
                    # strip(' ') exactly mirrors F.trim (space only)
                    toks = [t for t in seq.strip(" ").split("  ") if t]
                    for j in range(len(toks) - 1):
                        acc[(toks[j], toks[j + 1])] += 1
                yield pd.DataFrame(
                    {
                        "a": [k[0] for k in acc],
                        "b": [k[1] for k in acc],
                        "c": list(acc.values()),
                    }
                )

        partials = s.select("seq").mapInPandas(
            pair_counts, schema="a string, b string, c long"
        )
        top = (
            partials.groupBy("a", "b")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
        )
        s = (
            s.crossJoin(F.broadcast(top))
            .select(
                "doc_id",
                F.replace(
                    F.col("seq"),
                    F.concat(F.lit(" "), F.col("a"), F.lit("  "), F.col("b"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("a"), F.lit("_"), F.col("b"), F.lit(" ")),
                ).alias("seq"),
            )
            .localCheckpoint(eager=False)
        )
        after = s.agg(F.sum(n_toks).cast("long").alias("corpus_tokens_after"))
        row = top.crossJoin(after).select(
            F.lit(i).alias("iter"),
            F.col("a").alias("left_tok"),
            F.col("b").alias("right_tok"),
            F.col("cnt").cast("long").alias("n_pairs"),
            "corpus_tokens_after",
        )
        out = row if out is None else out.unionByName(row)
    return out


def _build_o_bpe() -> str:
    its = []
    for i in range(BPE_ITERS):
        its.append(f"""
t{i} AS (SELECT doc_id, list_filter(string_split(trim(seq), '  '), x -> x != '') AS toks FROM s{i}),
p{i + 1} AS (
  SELECT pr.a AS a, pr.b AS b, count(*) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  j -> {{'a': toks[j], 'b': toks[j + 1]}})) AS pr
    FROM t{i} WHERE len(toks) >= 2)
  GROUP BY pr.a, pr.b),
m{i + 1} AS (SELECT a, b, cnt FROM p{i + 1} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
s{i + 1} AS (
  SELECT doc_id,
         replace(seq, ' ' || m.a || '  ' || m.b || ' ',
                      ' ' || m.a || '_' || m.b || ' ') AS seq
  FROM s{i}, m{i + 1} m)""")
    rows = " UNION ALL ".join(
        f"""SELECT {i + 1} AS iter, a AS left_tok, b AS right_tok,
  cast(cnt as bigint) AS n_pairs,
  (SELECT cast(sum(len(list_filter(string_split(trim(seq), '  '),
                                   x -> x != ''))) as bigint)
   FROM s{i + 1}) AS corpus_tokens_after
FROM m{i + 1}"""
        for i in range(BPE_ITERS)
    )
    return f"""
WITH s0 AS (
  SELECT doc_id,
         '  ' || array_to_string(list_filter(string_split(text, ' '),
                                             x -> x != ''), '  ') || '  ' AS seq
  FROM documents),{",".join(its)}
{rows}
"""


O_BPE_MERGES = _build_o_bpe()


# ------------------------------------- stratified exact-allocation sample

SAMPLE_FRAC = 0.2
SAMPLE_SHIFT = 52  # 60-bit md5-prefix key >> 52 = 256 order-aligned buckets


def q_corpus_sample(spark, sf):
    """Deterministic stratified sampling with EXACT allocation: per
    source stratum take exactly max(1, round(frac*n)) documents, chosen
    by portable-hash order — the eval-set / ablation carve a dataset
    build repeats constantly. Distinct from train_split (hash-mod =
    binomial stratum counts, not exact) and token_budget_select
    (budgeted by tokens, not proportional by count).

    Scale shape, same discipline as token_budget_select: the naive
    plan is one per-stratum GLOBAL window over all rows — a
    single-partition sort per stratum that dies on a skewed 100 TB
    stratum. Here the 60-bit sample key's top 8 bits form 256
    order-aligned buckets: per-(stratum, bucket) counts cumulate in a
    tiny broadcastable table, sub-boundary buckets pass whole, and
    row_number runs only WITHIN (stratum, bucket) partitions — never a
    per-stratum global sort. The DuckDB oracle is the naive global
    row_number spec; the hash match proves the bucketed plan computes
    exactly the spec."""
    d = _t(spark, sf, "documents")
    key = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
    )
    base = d.select(
        "source", F.col("doc_id").cast("long").alias("doc_id"), key.alias("key")
    ).withColumn("b", F.shiftright("key", SAMPLE_SHIFT))
    alloc = base.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs")).select(
        "source",
        "n_docs",
        F.greatest(
            F.lit(1).cast("long"),
            F.round(F.col("n_docs") * SAMPLE_FRAC).cast("long"),
        ).alias("n_alloc"),
    )
    bs = base.groupBy("source", "b").agg(F.count(F.lit(1)).alias("bc"))
    wb = (
        W.partitionBy("source")
        .orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    bcum = bs.withColumn("cum", F.sum("bc").over(wb)).select(
        "source", "b", (F.col("cum") - F.col("bc")).alias("before")
    )
    j = base.join(F.broadcast(bcum), ["source", "b"]).join(
        F.broadcast(alloc), "source"
    )
    wdoc = W.partitionBy("source", "b").orderBy("key", "doc_id")
    sel = (
        j.where(F.col("before") < F.col("n_alloc"))
        .withColumn("rk", F.row_number().over(wdoc))
        .where(F.col("before") + F.col("rk") <= F.col("n_alloc"))
    )
    return sel.groupBy("source", "n_docs", "n_alloc").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("doc_id").cast("long").alias("sum_selected_ids"),
    )


O_CORPUS_SAMPLE = f"""
WITH base AS (
  SELECT source, doc_id,
         ('0x' || substr(md5('smp:' || cast(doc_id as varchar)), 1, 15))::BIGINT AS key
  FROM documents),
alloc AS (
  SELECT source, count(*) AS n_docs,
         greatest(1, cast(round(count(*) * {SAMPLE_FRAC}) as bigint)) AS n_alloc
  FROM base GROUP BY source),
rk AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rk
  FROM base),
sel AS (
  SELECT rk.source, rk.doc_id FROM rk JOIN alloc USING (source)
  WHERE rk <= n_alloc)
SELECT a.source, a.n_docs, a.n_alloc,
       count(*) AS n_selected,
       cast(sum(doc_id) as bigint) AS sum_selected_ids
FROM sel s JOIN alloc a ON s.source = a.source
GROUP BY a.source, a.n_docs, a.n_alloc
"""


# -------------------------------------------------- IVF index health


def q_ivf_balance(spark, sf):
    """IVF index-health audit: per cell its population, load factor vs
    the uniform ideal (n_vectors·C/N — the probe-cost skew indicator:
    a 3x-loaded cell makes every probe that hits it 3x the work), and
    the assignment-quality cosines (avg/min similarity of members to
    their own centroid — a cell whose min_cos sags needs a quantizer
    re-seed). The audit every IVF deployment runs before trusting
    recall numbers; ivf_probe_pruned in bench.py measures the pruning
    RATIO, this measures the balance that ratio depends on.

    Shape: the same map-side broadcast-fold cell assignment as
    ivf_assign (corpus never shuffles to pick cells) + one
    groupBy(cell) over C<<N rows of output; the load-factor join is a
    1-row broadcast."""
    from .operators.dedup import spread_for_explode
    from .operators.similarity import _vec_norm, ivf_assign, ivf_centroids

    e = spread_for_explode(_t(spark, sf, "embeddings"), "vec_id")
    cents = ivf_centroids(e, IVF_CENTROID_MOD)
    assign = ivf_assign(e, cents)
    vn = e.withColumn("__vn", _vec_norm(F.col("embedding")))
    j = assign.join(vn, "vec_id").join(
        F.broadcast(cents), assign["cell"] == cents["cid"]
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("cvec"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = dot / (F.col("__vn") * F.col("cnorm"))
    per = (
        j.select("cell", cos.alias("cos"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("cos"), 4).alias("avg_cos"),
            F.round(F.min("cos"), 4).alias("min_cos"),
        )
    )
    tot = per.agg(
        F.sum("n_vectors").alias("nt"), F.count(F.lit(1)).alias("nc")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vectors",
        F.round(F.col("n_vectors") * F.col("nc") / F.col("nt"), 4).alias(
            "load_factor"
        ),
        "avg_cos",
        "min_cos",
    )


O_IVF_BALANCE = f"""
WITH vn AS (
  SELECT vec_id, embedding,
         sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
           i -> embedding[i]::double * embedding[i]::double), (x, y) -> x + y)) AS nrm
  FROM embeddings),
cents AS (
  SELECT vec_id AS cid, embedding AS cvec, nrm AS cnorm
  FROM vn WHERE vec_id % {IVF_CENTROID_MOD} = 0),
assign AS (
  SELECT cell, cos FROM (
    SELECT v.vec_id, c.cid AS cell,
           {_o_cos('v.embedding', 'c.cvec', 'v.nrm', 'c.cnorm')} AS cos,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_o_cos('v.embedding', 'c.cvec', 'v.nrm', 'c.cnorm')} DESC,
                      c.cid ASC) AS rn
    FROM vn v CROSS JOIN cents c) WHERE rn = 1),
per AS (
  SELECT cell, count(*) AS n_vectors,
         round(avg(cos), 4) AS avg_cos,
         round(min(cos), 4) AS min_cos
  FROM assign GROUP BY cell),
tot AS (SELECT sum(n_vectors) AS nt, count(*) AS nc FROM per)
SELECT cell, n_vectors,
       round(n_vectors * nc / nt, 4) AS load_factor,
       avg_cos, min_cos
FROM per CROSS JOIN tot
"""


# ---------------------------------------------- duplicated-n-gram coverage

NGRAM_N = 5             # FineWeb/RefinedWeb use 5..10-gram windows
DUP_NGRAM_MAX_FRAC = 0.30  # keep rule: <= 30% of grams duplicated


def q_dup_ngram_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """FineWeb/RefinedWeb-style duplicated-n-gram coverage filter: for
    every document, the fraction of its 5-gram OCCURRENCES whose gram
    also appears in at least one OTHER document, and the keep decision
    (dup_frac <= 0.30). This is the corpus-level repetition signal that
    complements the within-document Gopher rules (q_gopher_repetition)
    and the document-level MinHash dedup: a doc that is 40% boilerplate
    shared with the rest of its site fails here while passing both of
    those.

    100 TB shape: grams are built map-side as an array HOF (no
    explode-then-window over raw tokens); the exploded (doc, gram)
    pairs take ONE hash exchange on gram, where a window count gives
    corpus doc-frequency without a second scan or a (huge) duplicated-
    gram broadcast — the dup-gram set at web scale is itself web-scale,
    so it must stay partitioned, never collected. The per-doc rollup is
    the second, smaller exchange. Map-side partial aggregation soaks up
    within-doc repeats before the shuffle.
    Reference parity: twAwler dedups whole tweets on the unique index
    (twkit/crawler/dumpall.py:61-81); gram-coverage is the training-
    pipeline generalization over long documents."""
    d = _t(spark, sf, "documents")

    def gram_arr(toks):
        # let-bound tokens: the gram transform would otherwise
        # re-evaluate split() per element (O(len^2) per doc)
        return F.when(
            F.size(toks) >= NGRAM_N,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (NGRAM_N - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, NGRAM_N)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = _let(F.split(F.lower(F.col("text")), " "), gram_arr)
    base = d.select(F.col("doc_id").cast("bigint").alias("doc_id"), grams.alias("grams"))
    e = base.select("doc_id", F.explode("grams").alias("gram"))
    pg = e.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    # rows are unique per (doc, gram), so a plain window count over gram
    # IS the corpus document-frequency — one exchange, no join-back
    flagged = pg.withColumn(
        "df_docs", F.count(F.lit(1)).over(W.partitionBy("gram"))
    )
    per = flagged.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("df_docs") >= 2, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_dup"),
    )
    out = (
        base.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
        )
        .withColumn(
            "dup_frac",
            F.when(
                F.col("n_grams") > 0, F.col("n_dup") / F.col("n_grams")
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("keep", F.col("dup_frac") <= F.lit(DUP_NGRAM_MAX_FRAC))
    )
    return out


O_DUP_NGRAM_COVERAGE = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
ti AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {NGRAM_N - 1}, 0) + 1)) AS i
  FROM t),
g AS (
  SELECT doc_id, array_to_string(toks[i:i+{NGRAM_N - 1}], ' ') AS gram FROM ti),
pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
f AS (SELECT *, count(*) OVER (PARTITION BY gram) AS df_docs FROM pg),
per AS (
  SELECT doc_id,
         cast(sum(c) as bigint) AS n_grams,
         cast(sum(CASE WHEN df_docs >= 2 THEN c ELSE 0 END) as bigint) AS n_dup
  FROM f GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(per.n_grams, 0) AS n_grams,
       coalesce(per.n_dup, 0) AS n_dup,
       CASE WHEN coalesce(per.n_grams, 0) > 0
            THEN per.n_dup / per.n_grams ELSE 0.0 END AS dup_frac,
       (CASE WHEN coalesce(per.n_grams, 0) > 0
             THEN per.n_dup / per.n_grams ELSE 0.0 END)
         <= {DUP_NGRAM_MAX_FRAC} AS keep
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


# ---------------------------------------------- weighted sampling (A-ES)

WSAMPLE_K = 200  # fixed sample size — independent of corpus scale

# 48-bit hash ceiling: exactly representable in a double, so the
# uniform u = (h+1)/2^48 is bit-identical across engines (no rounding
# in the int->double conversion, unlike a 60-bit hash)
_WS_CEIL = 1 << 48


def q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis-Spirakis
    exponential keys (A-ES, Inf.Proc.Lett. 2006): each document draws
    key = ln(u)/w with u uniform in (0,1] and w = its token count; the
    k largest keys ARE a weighted sample without replacement. This is
    the one-pass distributed way to draw a token-mass-proportional
    corpus subsample (long documents proportionally likelier), the
    third sampling primitive next to corpus_sample (stratified EXACT
    allocation, unweighted) and train_split (hash-mod binomial).

    u derives from a portable 48-bit md5 prefix, so the draw is
    deterministic and reproducible on any engine — a dataset-build
    re-run selects the identical sample (same property corpus_sample
    relies on; RNG-free by design, Date/random are nondeterministic
    across retries at cluster scale).

    100 TB shape: the key is a map-side column expression (no
    shuffle); the global top-k is TakeOrdered — per-partition k-heaps
    merged on the driver, k*P candidate rows total, never a global
    sort. The rank window at the end runs over the k surviving rows
    only. Reference analog: twAwler samples tracked users uniformly
    (twkit/crawler/sample.py semantics); weighting by token mass is
    the LLM-corpus generalization."""
    d = _t(spark, sf, "documents")
    w = F.size(F.split(F.col("text"), " ")).cast("double")
    h48 = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")
    u = (h48 + F.lit(1)).cast("double") / F.lit(float(_WS_CEIL))
    key = F.log(u) / w
    top = (
        d.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            w.cast("bigint").alias("weight_tokens"),
            key.alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(WSAMPLE_K)
    )
    # rank the k survivors via ONE bounded array aggregate (k is a
    # constant, so collecting the winners into a single sorted array is
    # scale-safe) — no single-partition window node in the plan;
    # negating the float key is exact, so the ascending struct sort is
    # exactly (es_key desc, doc_id asc)
    arr = top.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("es_key")).alias("nk"),
                    F.col("doc_id").alias("doc_id"),
                    F.col("weight_tokens").alias("weight_tokens"),
                )
            )
        ).alias("a")
    )
    return arr.select(F.posexplode("a").alias("pos", "s")).select(
        F.col("s.doc_id").alias("doc_id"),
        F.col("s.weight_tokens").alias("weight_tokens"),
        (F.col("pos") + 1).cast("int").alias("sample_rank"),
    )


O_WEIGHTED_SAMPLE = f"""
WITH keyed AS (
  SELECT doc_id,
         cast(len(string_split(text, ' ')) as bigint) AS weight_tokens,
         ln((('0x' || substring(md5('ws:' || cast(doc_id as varchar)), 1, 12))::BIGINT
              + 1) / {float(_WS_CEIL)})
           / len(string_split(text, ' ')) AS es_key
  FROM documents)
SELECT doc_id, weight_tokens,
       row_number() OVER (ORDER BY es_key DESC, doc_id ASC) AS sample_rank
FROM keyed
ORDER BY es_key DESC, doc_id ASC
LIMIT {WSAMPLE_K}
"""


# ------------------------------------------------- winnowing fingerprints

WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 4  # winnowing window (consecutive gram hashes per min)
WINNOW_MAX_DUP_FRAC = 0.30


def q_winnow_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every {WINNOW_K}-token
    gram, slide a window of {WINNOW_W} consecutive gram hashes, keep
    each window's MINIMUM; the distinct kept hashes are the document's
    fingerprint set, with the winnowing guarantee that any shared run
    of >= {WINNOW_K + WINNOW_W - 1} tokens between two documents
    yields a shared fingerprint. The corpus-level duplicated-
    fingerprint fraction is then the SAMPLED version of
    q_dup_ngram_coverage's signal: the same repetition decision at
    roughly 2/(w+1) of the exploded rows — the shuffle-volume knob a
    100 TB pipeline actually turns.

    100 TB shape: grams, hashes, window minima and the distinct-set
    are ALL map-side array HOFs (zero shuffle until the fingerprint
    explode); the exploded (doc, fp) rows take one hash exchange on fp
    where a window count gives corpus document-frequency (never a
    collected dup-set); the per-doc rollup is the second, smaller
    exchange. The DuckDB oracle is the naive exploded SQL-window spec
    (min OVER rows BETWEEN CURRENT AND {WINNOW_W - 1} FOLLOWING) — the
    hash match proves the HOF plan computes exactly that spec."""
    d = _t(spark, sf, "documents")

    def ghash_arr(toks):
        # let-bound tokens: the gram transform would otherwise
        # re-evaluate split() per element (O(len^2) per doc)
        grams = F.when(
            F.size(toks) >= WINNOW_K,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (WINNOW_K - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, WINNOW_K)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            grams,
            lambda g: F.conv(F.substring(F.md5(g), 1, 12), 16, 10).cast("long"),
        )

    ghash = _let(F.split(F.lower(F.col("text")), " "), ghash_arr)
    base = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), ghash.alias("gh")
    )
    wins = F.when(
        F.size(F.col("gh")) >= WINNOW_W,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("gh")) - (WINNOW_W - 1)),
            lambda i: F.array_min(F.slice(F.col("gh"), i, WINNOW_W)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    fps = base.select(
        "doc_id",
        F.size("gh").cast("bigint").alias("n_grams"),
        F.array_distinct(wins).alias("fps"),
    )
    # inner explode + join-back (not explode_outer): fingerprint-less
    # docs would otherwise all land in ONE null window partition
    e = fps.select("doc_id", F.explode("fps").alias("fp"))
    flagged = e.withColumn(
        "df_docs", F.count(F.lit(1)).over(W.partitionBy("fp"))
    )
    per = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fps"),
        F.sum(F.when(F.col("df_docs") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_fps"),
    )
    joined = fps.select("doc_id", "n_grams").join(per, "doc_id", "left")
    return joined.select(
        "doc_id",
        "n_grams",
        F.coalesce("n_fps", F.lit(0)).cast("bigint").alias("n_fps"),
        F.coalesce("n_dup_fps", F.lit(0)).cast("bigint").alias("n_dup_fps"),
        F.when(F.col("n_fps") > 0, F.col("n_dup_fps") / F.col("n_fps"))
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
        (
            F.when(F.col("n_fps") > 0, F.col("n_dup_fps") / F.col("n_fps"))
            .otherwise(F.lit(0.0))
            <= F.lit(WINNOW_MAX_DUP_FRAC)
        ).alias("keep"),
    )


O_WINNOW_FINGERPRINT = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
ti AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {WINNOW_K - 1}, 0) + 1)) AS i
  FROM t),
g AS (
  SELECT doc_id, i,
         ('0x' || substring(
            md5(array_to_string(toks[i:i+{WINNOW_K - 1}], ' ')), 1, 12))::BIGINT
           AS h,
         count(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM ti),
wmin AS (
  SELECT doc_id, n_grams, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
           AS fp
  FROM g),
fps AS (
  SELECT DISTINCT doc_id, n_grams, fp
  FROM wmin WHERE i <= n_grams - {WINNOW_W - 1}),
flagged AS (
  SELECT *, count(*) OVER (PARTITION BY fp) AS df_docs FROM fps),
per AS (
  SELECT doc_id, n_grams,
         cast(count(*) as bigint) AS n_fps,
         cast(sum(CASE WHEN df_docs >= 2 THEN 1 ELSE 0 END) as bigint)
           AS n_dup_fps
  FROM flagged GROUP BY doc_id, n_grams)
SELECT d.doc_id,
       cast(coalesce(per.n_grams, greatest(len(string_split(lower(d.text), ' '))
              - {WINNOW_K - 1}, 0)) as bigint) AS n_grams,
       coalesce(per.n_fps, 0) AS n_fps,
       coalesce(per.n_dup_fps, 0) AS n_dup_fps,
       CASE WHEN coalesce(per.n_fps, 0) > 0
            THEN per.n_dup_fps / per.n_fps ELSE 0.0 END AS dup_frac,
       (CASE WHEN coalesce(per.n_fps, 0) > 0
             THEN per.n_dup_fps / per.n_fps ELSE 0.0 END)
         <= {WINNOW_MAX_DUP_FRAC} AS keep
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


# ----------------------- round-5n: int8 embedding quantization audit

QUANT_LEVELS = 127  # symmetric int8: q in [-127, 127]


def q_embed_quantize(spark, sf):
    """Symmetric per-vector int8 quantization of the embedding column
    (the memory tier under every large-scale ANN index: FAISS's SQ8,
    ScaNN's int8 leaves): scale = max|v| / 127, q_i = round-half-up of
    v_i / scale, so q_i always lands in [-127, 127] and the max-|v|
    component maps to exactly +/-127. Output per vector: the scale,
    integer audit sums over the codes (L1 mass, squared norm, max
    |q_i| — all BIGINT-exact, so the driver hash pins every code), and
    the cosine between the original vector and its dequantized form
    (scale cancels: cos(v, scale*q) = cos(v, q)) — the quality gauge
    an index build checks before committing to int8 storage.

    Determinism by construction: everything per-row. round-half-up is
    spelled floor(x + 0.5) IDENTICALLY in both engines (Spark round()
    is HALF_UP but DuckDB's is not guaranteed on doubles; floor(+0.5)
    sidesteps the difference), and the dot/norm sums are ORDERED array
    folds (F.aggregate / list_reduce), never cross-row float
    aggregation.

    100 TB shape: map-only semantics — the only exchange the audited
    small-SF plan shows is the adaptive small-file spread
    (spread_for_explode), a no-op at warehouse scale where the split
    count exceeds the core count, so the production plan is a parquet
    scan into one projection. int8 codes cut the ANN corpus 4x (64
    floats = 256 B -> 64 B + 4 B scale), which at 10^10 vectors is the
    difference between an in-memory IVF probe tier and one that
    spills; ann_ivf_topk / ann_pq_topk consume exactly this layout
    (PQ is the 8x-further compression of the same residuals).
    Reference analog: none (the reference stores no vectors) — this is
    training-pipeline infrastructure the 100 TB target requires."""
    from .operators.dedup import spread_for_explode

    e = spread_for_explode(_t(spark, sf, "embeddings"), "vec_id").where(
        F.col("vec_id") < 200
    )
    scale = F.array_max(F.transform(F.col("embedding"), F.abs)).cast(
        "double"
    ) / F.lit(float(QUANT_LEVELS))
    q = F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") / F.col("scale") + F.lit(0.5)),
    )
    with_q = (
        e.where(F.array_max(F.transform(F.col("embedding"), F.abs)) > 0)
        .withColumn("scale", scale)
        .withColumn("q", q)
    )
    dot_vq = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("q"), lambda v, c: v.cast("double") * c
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    nq = F.sqrt(
        F.aggregate(
            F.col("q"), F.lit(0.0), lambda acc, c: acc + c.cast("double") * c
        )
    )
    return with_q.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda acc, c: acc + F.abs(c)
        ).alias("q_l1"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda acc, c: acc + c * c
        ).alias("q_sq"),
        F.array_max(F.transform(F.col("q"), F.abs)).cast("long").alias("q_max"),
        F.round(dot_vq / (nv * nq), 6).alias("cos_deq"),
    )


O_EMBED_QUANTIZE = f"""
WITH base AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x::double)))
           / {QUANT_LEVELS}.0 AS scale
  FROM embeddings
  WHERE vec_id < 200
    AND list_max(list_transform(embedding, x -> abs(x::double))) > 0),
coded AS (
  SELECT vec_id, embedding, scale,
         list_transform(embedding,
                        x -> cast(floor(x::double / scale + 0.5) as bigint)) AS q
  FROM base)
SELECT vec_id,
       round(scale, 6) AS scale,
       list_reduce(list_prepend(cast(0 as bigint),
                                list_transform(q, c -> abs(c))),
                   (a, b) -> a + b) AS q_l1,
       list_reduce(list_prepend(cast(0 as bigint),
                                list_transform(q, c -> c * c)),
                   (a, b) -> a + b) AS q_sq,
       list_max(list_transform(q, c -> abs(c))) AS q_max,
       round(
         list_reduce(list_prepend(0.0,
             list_transform(range(1, len(embedding) + 1),
                            i -> embedding[i]::double * q[i])),
             (a, b) -> a + b)
         / (sqrt(list_reduce(list_prepend(0.0,
               list_transform(embedding, v -> v::double * v::double)),
               (a, b) -> a + b))
          * sqrt(list_reduce(list_prepend(0.0,
               list_transform(q, c -> c::double * c::double)),
               (a, b) -> a + b))),
       6) AS cos_deq
FROM coded
"""


# ------------------------------------------------- k-means (Lloyd, 5o)

KM_K = 10          # clusters (matches the fixture's planted label count)
KM_T = 3           # Lloyd assignment rounds
KM_QSCALE = 64     # global quantization scale: q_i = floor(v_i*64 + 0.5)
KM_DIMS = 64       # embedding dimensionality (fixture contract)


def _km_cost_cols(q_col, s_col, n_col):
    """Exact-integer Lloyd cost, scaled by n^2 so no float enters the
    comparison path until ONE final division: A = n^2*(x.x) - 2n*(x.S)
    + (S.S) = n^2 * ||x - S/n||^2, all BIGINT-exact, then
    cost = A / n^2 as a single IEEE-exact division of two integers
    below 2^53 (identical in Spark, DuckDB, and python)."""
    zero = F.lit(0).cast("long")
    xx = F.aggregate(q_col, zero, lambda acc, x: acc + x * x)
    xs = F.aggregate(
        F.zip_with(q_col, s_col, lambda a, b: a * b), zero, lambda acc, x: acc + x
    )
    ss = F.aggregate(s_col, zero, lambda acc, x: acc + x * x)
    a = n_col * n_col * xx - F.lit(2).cast("long") * n_col * xs + ss
    return a, a.cast("double") / (n_col * n_col).cast("double")


def q_kmeans_lloyd(spark, sf):
    """Lloyd's k-means over the embedding corpus with an ALL-INTEGER
    carry: vectors are globally quantized (q_i = floor(v_i*64 + 0.5),
    BIGINT), centroids are carried as (sum-vector S, count n) integer
    pairs — never divided — and the assignment argmin compares
    A_j/n_j^2 where A_j = n_j^2(x.x) - 2n_j(x.S_j) + S_j.S_j is
    BIGINT-exact (A_j = n_j^2 * ||x - S_j/n_j||^2). The only float op
    per comparison is one division of two exact integers < 2^53 —
    IEEE-exact and identical across Spark, DuckDB, and python, so no
    summation order or libm call can flip an assignment. Init is
    deterministic: the KM_K lowest vec_ids seed the centroids (n=1).
    Ties break to the lowest centroid id; emptied clusters simply
    vanish from the next round (both engines recompute the centroid
    set from the assignment). Output after KM_T rounds: per-cluster
    member count, member-id sum, a position-weighted centroid
    checksum sum_d (d+1)*S_d pinning every coordinate of the final
    sum-vector under the driver hash, and the exact scaled inertia
    numerator sum_members A (inertia = num/n^2, also emitted rounded).

    100 TB shape: each round is one broadcast of K (sum, n) rows onto
    a map-side cost evaluation (no shuffle on the corpus) + one
    groupBy(cid) with map-side partial aggregation of the 64 per-dim
    integer sums — the textbook Spark k-means layout (same skeleton as
    MLlib's, minus RNG); rounds are driver-iterated with a lazy
    localCheckpoint on the K-row centroid frame only, so lineage stays
    flat and the corpus is scanned exactly KM_T+1 times. This is the
    index-build ancestor of ann_ivf_topk's centroid tier (its
    coarse quantizer is exactly one Lloyd round over a seed sample).
    Reference analog: none (the reference stores no vectors) —
    training-pipeline infrastructure the 100 TB target requires."""
    # Optimized assignment (guide §4.2): the argmin over K centroids is
    # exact INTEGER arithmetic + one IEEE-exact division, so a dense
    # numpy evaluation is bit-identical to the crossJoin + rank-window
    # plan it replaces (which shuffled N*K rows through a sort per
    # round and evaluated the cost fold with interpreted HOFs). The
    # K-row centroid state is collected per round — the same driver
    # round-trip the checkpointed loop already paid.
    import numpy as np
    import pandas as pd

    e = _t(spark, sf, "embeddings")
    qexpr = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * KM_QSCALE + F.lit(0.5)).cast("long"),
    )
    v = e.select(
        F.col("vec_id").cast("long").alias("vec_id"), qexpr.alias("q")
    ).localCheckpoint(eager=False)
    cent = v.where(F.col("vec_id") < KM_K).select(
        F.col("vec_id").cast("long").alias("cid"),
        F.col("q").alias("s"),
        F.lit(1).cast("long").alias("n"),
    )
    assign = None
    for _ in range(KM_T):
        crows = sorted(cent.select("cid", "s", "n").collect(), key=lambda r: r["cid"])
        cids = np.array([r["cid"] for r in crows], dtype=np.int64)
        smat = np.array([r["s"] for r in crows], dtype=np.int64)
        ns = np.array([r["n"] for r in crows], dtype=np.int64)
        ss = (smat * smat).sum(axis=1)

        def assign_fn(batches, cids=cids, smat=smat, ns=ns, ss=ss):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
                xx = (q * q).sum(axis=1)
                xs = q @ smat.T
                a = (ns * ns)[None, :] * xx[:, None] - 2 * ns[None, :] * xs + ss[None, :]
                cost = a.astype(np.float64) / (ns * ns).astype(np.float64)[None, :]
                k = np.argmin(cost, axis=1)  # ties -> first = lowest cid
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "q": pdf["q"], "cid": cids[k]}
                )

        assign = v.mapInPandas(
            assign_fn, schema="vec_id long, q array<bigint>, cid long"
        ).localCheckpoint(eager=False)
        cent = assign.groupBy("cid").agg(
            F.array(*[F.sum(F.col("q")[i]) for i in range(KM_DIMS)]).alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    fin = assign.join(cent, "cid")
    a_num, _ = _km_cost_cols(F.col("q"), F.col("s"), F.col("n"))
    checksum = F.aggregate(
        F.zip_with(
            F.col("s"),
            F.sequence(F.lit(1).cast("long"), F.lit(KM_DIMS).cast("long")),
            lambda sv, i: sv * i,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    per = fin.select("cid", "vec_id", "n", a_num.alias("a"), checksum.alias("ck"))
    return per.groupBy("cid").agg(
        F.max("n").alias("n_members"),
        F.sum("vec_id").alias("sum_vec_id"),
        F.max("ck").alias("centroid_checksum"),
        F.sum("a").alias("inertia_num"),
        F.round(
            F.sum("a").cast("double") / (F.max("n") * F.max("n")).cast("double"), 4
        ).alias("inertia"),
    )


def _o_kmeans_lloyd() -> str:
    """Unrolled-CTE DuckDB twin of q_kmeans_lloyd: one assignment +
    re-centering CTE pair per Lloyd round, identical integer math."""
    dot = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1]*p[2]))"
    sq = "list_sum(list_transform({a}, x -> x*x))"
    cost_a = (
        f"c.n*c.n*{sq.format(a='v.q')}"
        f" - 2*c.n*{dot.format(a='v.q', b='c.s')}"
        f" + {sq.format(a='c.s')}"
    )
    dims_sums = ", ".join(f"sum(q[{i + 1}])" for i in range(KM_DIMS))
    rounds = []
    prev = "c0"
    for t in range(1, KM_T + 1):
        rounds.append(
            f"""a{t} AS (
  SELECT vec_id, q, cid FROM (
    SELECT v.vec_id, v.q, c.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             cast(({cost_a}) as double) / cast(c.n*c.n as double), c.cid) AS rn
    FROM v, {prev} c) WHERE rn = 1),
c{t} AS (
  SELECT cid, list_value({dims_sums}) AS s, cast(count(*) as bigint) AS n
  FROM a{t} GROUP BY cid)"""
        )
        prev = f"c{t}"
    chain = ",\n".join(rounds)
    fin_a = cost_a.replace("v.q", "a.q")
    return f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> cast(floor(x::double * {KM_QSCALE} + 0.5) as bigint)) AS q
  FROM embeddings),
c0 AS (
  SELECT cast(vec_id as bigint) AS cid, q AS s, cast(1 as bigint) AS n
  FROM v WHERE vec_id < {KM_K}),
{chain},
fin AS (
  SELECT a.cid, a.vec_id, c.n,
         {fin_a} AS a_num,
         list_sum(list_transform(list_zip(c.s, range(1, {KM_DIMS} + 1)),
                                 p -> p[1]*p[2])) AS ck
  FROM a{KM_T} a JOIN c{KM_T} c ON a.cid = c.cid)
SELECT cid,
       max(n) AS n_members,
       cast(sum(vec_id) as bigint) AS sum_vec_id,
       cast(max(ck) as bigint) AS centroid_checksum,
       cast(sum(a_num) as bigint) AS inertia_num,
       round(cast(sum(a_num) as bigint) * 1.0 / (max(n)*max(n)), 4) AS inertia
FROM fin GROUP BY cid
"""


O_KMEANS_LLOYD = _o_kmeans_lloyd()


# -------------------------------------------- LSH s-curve calibration (5o)

SCURVE_DOCS = 120        # base docs in the calibration sample
SCURVE_PPM = 1_000_000   # rate scale (parts per million)
# theory: P(collide | jaccard s) = 1 - (1 - s^r)^b with the registered
# minhash config r=2 rows/band, b=4 bands (N_MINHASH=8); evaluated at
# the bucket midpoint s = (2*bucket+1)/20 as exact rationals:
# 1 - ((400 - (2b+1)^2)/400)^4 — BIGINT-exact numerators, one int div.
_SCURVE_DEN4 = 400**4


def _scurve_sample_spark(d: DataFrame) -> DataFrame:
    """base docs (doc_id < SCURVE_DOCS) + '_nd' (first token dropped,
    jaccard ~0.9+) + '_h' (first half of the tokens, jaccard ~0.5) —
    three planted similarity levels so the empirical curve has mass at
    the top, the middle, and the random-pair bottom."""
    base = d.where(F.col("doc_id") < SCURVE_DOCS)
    orig = base.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    nd = base.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_nd")).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    toks = F.split(F.col("text"), " ")
    half = base.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_h")).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, F.lit(1), F.ceil(F.size(toks) / 2).cast("int"))
        ).alias("text"),
    )
    return orig.unionByName(nd).unionByName(half)


def q_lsh_s_curve(spark, sf):
    """Empirical vs theoretical LSH s-curve for the REGISTERED minhash
    config (8 hashes, 4 bands x 2 rows, 5-gram shingles — the exact
    tier dedup_minhash_lsh ships): over a fixed 3x120-doc calibration
    sample (base + near-dup + half-doc variants planting three
    similarity levels), every unordered pair gets its EXACT shingle
    jaccard and a collision flag (shares >=1 LSH band), bucketed by
    jaccard decile. Per bucket: pair count, collision count, empirical
    collision rate, and the closed-form 1-(1-s^2)^4 at the bucket
    midpoint — both rates as BIGINT ppm (one integer division each),
    so the driver hash is float-free. This is the calibration study a
    production dedup tier runs before committing to a (b, r) choice:
    if the empirical curve sags under theory, the minhash
    implementation is biased; if recall at the 0.8+ buckets is below
    target, add bands.

    All-pairs is BY DESIGN here and does NOT scale up — calibration
    runs on a fixed-size sample (360 docs, 64620 pairs, constant at
    every sf) exactly like production: you never all-pairs the corpus,
    you all-pairs a sample to VALIDATE the banding that the corpus
    then relies on. The production discovery tier stays
    dedup_minhash_lsh's single bucketed shuffle.

    Cites: Leskovec/Rajaraman/Ullman MMDS ch.3 (s-curve); reference
    analog: none (the reference has no near-dup tier) — LLM-corpus
    infrastructure per the brief."""
    sample = _scurve_sample_spark(_t(spark, sf, "documents"))
    sh = sample.select("doc_id", _shingles_spark(F.col("text")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
        .cast("long")
        .alias("i"),
        F.size(F.array_union(F.col("a.sh"), F.col("b.sh"))).cast("long").alias("u"),
    )
    cands = _lsh_pairs(sample).withColumn("coll", F.lit(1).cast("long"))
    flagged = pairs.join(cands, ["doc_a", "doc_b"], "left").fillna(
        {"coll": 0}
    )
    agg = flagged.groupBy(
        F.expr("(10 * i) DIV u").alias("jaccard_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("coll").alias("n_collide"),
    )
    num = F.greatest(
        F.lit(400).cast("long")
        - (2 * F.col("jaccard_bucket") + 1) * (2 * F.col("jaccard_bucket") + 1),
        F.lit(0).cast("long"),
    )
    # 1e6 * num^4 reaches 2.56e16 > 2^53, so the division MUST stay in
    # integer space (DIV), never float: both engines floor-divide exact
    # BIGINTs.
    return (
        agg.withColumn("pow4v", num * num * num * num)
        .select(
            "jaccard_bucket",
            "n_pairs",
            "n_collide",
            F.expr(f"(n_collide * {SCURVE_PPM}) DIV n_pairs").alias("emp_ppm"),
            (
                F.lit(SCURVE_PPM).cast("long")
                - F.expr(f"({SCURVE_PPM} * pow4v) DIV {_SCURVE_DEN4}")
            ).alias("theory_ppm"),
        )
    )


def _o_lsh_s_curve() -> str:
    """DuckDB twin: same sample, same KM minhash/band chain as
    _o_minhash_parts (rebuilt here over the calibration sample), same
    integer-ppm rates."""
    M = 1 << 59
    hs = ",\n         ".join(
        f"min((('0x' || substring(md5(tok), 1, 15))::BIGINT % {M}"
        f" + {k} * (('0x' || substring(md5(tok), 17, 15))::BIGINT % {M})) % {M})"
        f" AS h{k}"
        for k in range(N_MINHASH)
    )
    band_cols = ", ".join(
        f"h{2 * b} || '|' || h{2 * b + 1} AS band{b}" for b in range(4)
    )
    joins = "\nUNION\n".join(
        f"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bands x JOIN bands y "
        f"ON x.band{b} = y.band{b} AND x.doc_id < y.doc_id"
        for b in range(4)
    )
    shingles = (
        "list_distinct(list_transform("
        "range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1), "
        "i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))"
    )
    return f"""
WITH docs AS (
  SELECT cast(doc_id as varchar) AS doc_id, text
  FROM documents WHERE doc_id < {SCURVE_DOCS}
  UNION ALL
  SELECT cast(doc_id as varchar) || '_nd',
         substring(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id < {SCURVE_DOCS}
  UNION ALL
  SELECT cast(doc_id as varchar) || '_h',
         array_to_string(
           (string_split(text, ' '))[1:cast(ceil(len(string_split(text, ' ')) / 2) as int)],
           ' ')
  FROM documents WHERE doc_id < {SCURVE_DOCS}),
sh AS (SELECT doc_id, {shingles} AS sh FROM docs),
toks AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
sigs AS (
  SELECT doc_id,
         {hs}
  FROM toks WHERE tok != '' GROUP BY doc_id),
bands AS (SELECT doc_id, {band_cols} FROM sigs),
cands AS ({joins}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         cast(len(list_intersect(a.sh, b.sh)) as bigint) AS i,
         cast(len(list_distinct(list_concat(a.sh, b.sh))) as bigint) AS u
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
flagged AS (
  SELECT p.i, p.u, CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS coll
  FROM pairs p LEFT JOIN cands c
    ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b),
agg AS (
  SELECT (10 * i) // u AS jaccard_bucket,
         cast(count(*) as bigint) AS n_pairs,
         cast(sum(coll) as bigint) AS n_collide
  FROM flagged GROUP BY 1),
th AS (
  SELECT *,
         greatest(400 - (2*jaccard_bucket + 1)*(2*jaccard_bucket + 1),
                  0)::BIGINT AS nm
  FROM agg)
SELECT jaccard_bucket, n_pairs, n_collide,
       (n_collide * {SCURVE_PPM}) // n_pairs AS emp_ppm,
       {SCURVE_PPM} - ({SCURVE_PPM} * nm*nm*nm*nm) // {_SCURVE_DEN4} AS theory_ppm
FROM th
"""


O_LSH_S_CURVE = _o_lsh_s_curve()


# ----------------------------- stratified corpus sampling (5p)

STRAT_N = 150  # total sample quota apportioned across (source, lang)


def q_stratified_sample(spark, sf):
    """Stratified corpus sampling with Hamilton (largest-remainder)
    apportionment — the per-domain quota draw a training-data mixer
    runs: each (source, lang) stratum gets floor(n*N_h/N) seats plus
    one of the t = n - sum(floor) leftover seats by descending
    remainder (ties to the lexicographically first stratum), then the
    stratum's members are picked by ascending md5 rank (consistent
    sampling: the same doc_ids are drawn on every run and every
    engine, and growing a stratum only appends picks). ALL integer:
    quotas and remainders are exact BIGINT arithmetic, the selection
    order is a hex-string sort, and the emitted per-stratum evidence
    (alloc, n_sel, id sum/min/max of the selected set) pins the exact
    chosen membership under the driver hash — not just its size.
    floor(n*N_h/N)+1 <= N_h whenever n < N, so no stratum is ever
    over-drawn.

    100 TB shape: stratum stats are one partial-aggregated groupBy;
    the apportionment runs over |strata| rows (bounded — domains x
    langs, ~10^5 at web scale) behind a 1-row broadcast of N and
    sum(base); the selection is one window rank per stratum — the
    same per-key top-k shape as w3 — followed by a broadcast join of
    the |strata|-row allocation. Nothing driver-side. Reference
    analog: corpus_sample's per-bucket hash draw, upgraded from
    fixed per-bucket rates to exact global-quota apportionment
    (Hamilton's method; cf. DoReMi/DSIR-style domain reweighting)."""
    d = _t(spark, sf, "documents")
    strat = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_h")
    )
    tot = strat.agg(F.sum("n_h").alias("n_pop"))
    q = strat.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_h",
        F.expr(f"({STRAT_N} * n_h) DIV n_pop").alias("base"),
        F.expr(f"({STRAT_N} * n_h) % n_pop").alias("rem"),
    )
    bs = q.agg(F.sum("base").alias("base_sum"))
    rnk = F.row_number().over(
        W.orderBy(F.col("rem").desc(), F.col("source").asc(), F.col("lang").asc())
    )
    al = (
        q.crossJoin(F.broadcast(bs))
        .withColumn("rnk", rnk)
        .select(
            "source",
            "lang",
            "n_h",
            (
                F.col("base")
                + F.when(F.col("rnk") <= F.lit(STRAT_N) - F.col("base_sum"), 1)
                .otherwise(0)
            ).cast("long").alias("alloc"),
        )
    )
    pick_rank = F.row_number().over(
        W.partitionBy("source", "lang").orderBy(
            F.md5(F.concat(F.lit("ss:"), F.col("doc_id").cast("string"))).asc(),
            F.col("doc_id").asc(),
        )
    )
    sel = (
        d.select("source", "lang", "doc_id")
        .withColumn("rnk", pick_rank)
        .join(F.broadcast(al), ["source", "lang"])
        .where(F.col("rnk") <= F.col("alloc"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sel"),
            F.sum("doc_id").alias("sel_sum"),
            F.min("doc_id").alias("sel_min"),
            F.max("doc_id").alias("sel_max"),
        )
    )
    return (
        al.join(sel, ["source", "lang"], "left")
        .fillna({"n_sel": 0, "sel_sum": 0, "sel_min": -1, "sel_max": -1})
        .select(
            "source", "lang", "n_h", "alloc", "n_sel", "sel_sum", "sel_min", "sel_max"
        )
    )


O_STRATIFIED_SAMPLE = f"""
WITH strat AS (
  SELECT source, lang, cast(count(*) as bigint) AS n_h
  FROM documents GROUP BY 1, 2),
tot AS (SELECT cast(sum(n_h) as bigint) AS n_pop FROM strat),
q AS (
  SELECT source, lang, n_h,
         ({STRAT_N} * n_h) // n_pop AS base,
         ({STRAT_N} * n_h) % n_pop AS rem
  FROM strat, tot),
bs AS (SELECT cast(sum(base) as bigint) AS base_sum FROM q),
rk AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source, lang) AS rnk
  FROM q),
al AS (
  SELECT source, lang, n_h,
         cast(base + CASE WHEN rnk <= {STRAT_N} - base_sum THEN 1 ELSE 0 END
              as bigint) AS alloc
  FROM rk, bs),
ranked AS (
  SELECT source, lang, doc_id,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY md5('ss:' || cast(doc_id as varchar)), doc_id)
           AS rnk
  FROM documents),
sel AS (
  SELECT r.source, r.lang,
         cast(count(*) as bigint) AS n_sel,
         cast(sum(r.doc_id) as bigint) AS sel_sum,
         min(r.doc_id) AS sel_min,
         max(r.doc_id) AS sel_max
  FROM ranked r JOIN al ON al.source = r.source AND al.lang = r.lang
  WHERE r.rnk <= al.alloc GROUP BY 1, 2)
SELECT al.source, al.lang, al.n_h, al.alloc,
       coalesce(s.n_sel, 0) AS n_sel,
       coalesce(s.sel_sum, 0) AS sel_sum,
       coalesce(s.sel_min, -1) AS sel_min,
       coalesce(s.sel_max, -1) AS sel_max
FROM al LEFT JOIN sel s ON s.source = al.source AND s.lang = al.lang
"""


# ------------------------ posting-list varint sizing (5q)

IDXV_MIN_DF = 3       # df gate (mirror of the index export's policy)
IDXV_PPM = 1_000_000


def q_index_varint_estimate(spark, sf):
    """Delta-gap + varint size estimate for the inverted index's
    posting lists — the storage-layout calculation every index build
    runs before choosing a postings codec (Lucene/ES store postings
    exactly this way: sorted doc ids, delta gaps, LEB128 varints):
    per term, sort the distinct posting doc ids, take gaps (the first
    posting's gap is doc_id + 1 so every gap is >= 1), and size each
    gap at ceil(bitlen(gap)/7) varint bytes with bitlen from the
    binary-string length — ALL integer, no log(), so both engines and
    the python third implementation agree exactly. Output per term
    (df >= IDXV_MIN_DF): df, total varint bytes, the raw fixed-width
    cost 8*df, and the savings in integer ppm. Companion of
    inverted_index_export: that query builds the posting statistics,
    this one prices their storage.

    100 TB shape: one exchange on term for the distinct, then the
    gap window runs WITHIN each term partition (same keys — AQE/the
    planner reuses the exchange, no second shuffle), and the
    aggregation partial-combines map-side. At warehouse scale the
    postings are bucketBy(term)/sortBy(doc_id) (X5 discipline), which
    makes the window a zero-exchange sorted-run scan — the estimate
    then prices exactly the bytes the bucketed files will hold.
    Reference analog: the storage half of S14's index export
    (uservectors_to_elasticsearch.py), priced instead of shipped."""
    d = _t(spark, sf, "documents")
    ex = (
        d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
        )
        .where(F.col("term") != "")
        .distinct()
    )
    w = W.partitionBy("term").orderBy("doc_id")
    gap = F.when(
        F.lag("doc_id").over(w).isNull(), F.col("doc_id") + 1
    ).otherwise(F.col("doc_id") - F.lag("doc_id").over(w))
    g = ex.withColumn("gap", gap).withColumn(
        "nbytes", F.expr("(length(bin(gap)) + 6) DIV 7").cast("long")
    )
    agg = g.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("nbytes").alias("varint_bytes"),
    )
    return (
        agg.where(F.col("df") >= IDXV_MIN_DF)
        .withColumn("raw_bytes", (F.lit(8).cast("long") * F.col("df")))
        .withColumn(
            "savings_ppm",
            F.expr(f"((raw_bytes - varint_bytes) * {IDXV_PPM}) DIV raw_bytes"),
        )
    )


O_INDEX_VARINT_ESTIMATE = f"""
WITH ex AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents)
  WHERE term != ''),
g AS (
  SELECT term, doc_id,
         CASE WHEN lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id) IS NULL
              THEN doc_id + 1
              ELSE doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id)
         END AS gap
  FROM ex),
b AS (
  SELECT term, cast((length(bin(gap)) + 6) // 7 as bigint) AS nbytes FROM g),
agg AS (
  SELECT term, cast(count(*) as bigint) AS df,
         cast(sum(nbytes) as bigint) AS varint_bytes
  FROM b GROUP BY term)
SELECT term, df, varint_bytes, 8 * df AS raw_bytes,
       ((8 * df - varint_bytes) * {IDXV_PPM}) // (8 * df) AS savings_ppm
FROM agg WHERE df >= {IDXV_MIN_DF}
"""


# ------------------------------ vocabulary growth (Heaps, 5s)

VG_BATCH = 64        # docs per ingestion batch (by doc_id range)
VG_PPM = 1_000_000


def q_vocab_growth(spark, sf):
    """Heaps-law vocabulary-growth audit over 5-gram shingles: split
    the corpus into ingestion batches (doc_id ranges of VG_BATCH — the
    rounds-as-batches view of a growing corpus) and measure, per
    batch, the total shingle occurrences, the distinct shingles seen
    IN the batch, the NEW shingles (first batch of occurrence), the
    running cumulative vocabulary, and the novelty rate in integer
    ppm. This is the curve a dedup/compression planner reads before
    sizing shingle indexes and deciding when incremental dedup
    (dedup_incremental) stops paying: when new_ppm flattens, the
    shingle universe has saturated. Unigrams would be degenerate here
    (the fixture vocabulary is 31 words — saturated in batch 0);
    5-gram shingles keep the space rich at every SF, same universe as
    the minhash tier, so this audit prices exactly the index that
    dedup_minhash_lsh builds.

    All integer: first-occurrence is min(batch) per shingle (one
    exchange on the shingle key — the same key the dedup tier already
    shuffles on), per-batch rollups partial-aggregate, and the
    cumulative vocabulary is a window sum over |batches| rows.
    Reference analog: vocabulary statistics of the reference's word
    tiers (SURVEY §2 F4/A5 families), lifted to shingle space and
    put on the ingestion axis."""
    d = _t(spark, sf, "documents")
    # sh feeds both the per-batch rollup and the first-batch agg —
    # checkpoint so the per-doc C-md5 shingle pass runs once, not twice
    # (_shingle_hash_rows: 16-byte keys instead of shingle strings on
    # every exchange; batch derives from doc_id after the fact)
    sh = (
        _shingle_hash_rows(d)
        .select(F.expr(f"doc_id DIV {VG_BATCH}").alias("batch"), "h1", "h2")
        .localCheckpoint(eager=False)
    )
    per_batch = sh.groupBy("batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("h1", "h2").cast("long").alias("n_distinct"),
    )
    first = sh.groupBy("h1", "h2").agg(F.min("batch").alias("fb"))
    news = first.groupBy(F.col("fb").alias("batch")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    j = per_batch.join(news, "batch", "left").fillna({"n_new": 0})
    cum = F.sum("n_new").over(
        W.orderBy("batch").rowsBetween(W.unboundedPreceding, 0)
    )
    return j.select(
        "batch",
        "n_tokens",
        "n_distinct",
        "n_new",
        cum.alias("cum_vocab"),
        F.expr(f"(n_new * {VG_PPM}) DIV n_tokens").alias("new_ppm"),
    )


O_VOCAB_GROWTH = f"""
WITH sh AS (
  SELECT doc_id // {VG_BATCH} AS batch,
         unnest(list_distinct(
           list_transform(range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
             i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS tok
  FROM documents),
shf AS (SELECT batch, tok FROM sh WHERE tok != ''),
per_batch AS (
  SELECT batch, cast(count(*) as bigint) AS n_tokens,
         cast(count(DISTINCT tok) as bigint) AS n_distinct
  FROM shf GROUP BY batch),
first AS (SELECT tok, min(batch) AS fb FROM shf GROUP BY tok),
news AS (
  SELECT fb AS batch, cast(count(*) as bigint) AS n_new
  FROM first GROUP BY fb),
j AS (
  SELECT p.batch, p.n_tokens, p.n_distinct, coalesce(n.n_new, 0) AS n_new
  FROM per_batch p LEFT JOIN news n ON n.batch = p.batch)
SELECT batch, n_tokens, n_distinct, n_new,
       cast(sum(n_new) OVER (ORDER BY batch
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
         AS cum_vocab,
       (n_new * {VG_PPM}) // n_tokens AS new_ppm
FROM j
"""


# ------------------------------- bigram branching factor (5t)

BR_PPM = 1_000_000


def q_bigram_branching(spark, sf):
    """Per-token successor branching over the corpus bigram stream —
    the n-gram LM fan-out audit: for every first token, how many
    occurrences, how many DISTINCT successors, which successor
    dominates and with what share. High-branching tokens are the
    hard-to-predict positions (where an LM spends its loss); a
    dominant successor share near 1e6 marks collocations that a
    phrase tokenizer (bpe_merges learns exactly these) should fuse.
    Companion of f6_bigram_topk (which ranks bigram COUNTS) and
    ccnet_lm_buckets (which buckets doc-level LM scores): this is the
    token-level conditional-distribution summary, all integer — the
    top successor is picked by (count desc, token asc) so both
    engines choose identically even on count ties.

    100 TB shape: the bigram stream explodes once (per-doc bounded),
    then TWO aggregations on the first-token key — (tok, next)
    partial counts, then the per-tok rollup with a window-free
    max_by-equivalent (row_number over the (tok) partition on the
    pre-aggregated counts, cardinality vocab x vocab, tiny) — the
    same two-exchange shape as f6. Reference analog: the word/bigram
    frequency tiers of twkit/analytics/freq.py, lifted to conditional
    form."""
    d = _t(spark, sf, "documents")

    def bigram_structs(toks):
        # let-bound tokens: element_at on the lambda variable is O(1);
        # on the raw split() expression it re-evaluates the split per
        # element (O(len^2) per doc)
        idx = F.when(
            F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda k: F.struct(
                F.element_at(toks, k).alias("tok"),
                F.element_at(toks, k + 1).alias("nxt"),
            ),
        )

    pairs = (
        d.select(
            F.explode(
                _let(F.split(F.lower(F.col("text")), " "), bigram_structs)
            ).alias("p")
        )
        .select("p.tok", "p.nxt")
        .where((F.col("tok") != "") & (F.col("nxt") != ""))
    )
    # cnt feeds both the per-tok rollup and the top-successor pick —
    # checkpoint so the bigram explode+agg runs once, not twice
    cnt = pairs.groupBy("tok", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    rn = F.row_number().over(
        W.partitionBy("tok").orderBy(F.col("c").desc(), F.col("nxt").asc())
    )
    tot = cnt.groupBy("tok").agg(
        F.sum("c").alias("n_pairs"),
        F.count(F.lit(1)).cast("long").alias("n_successors"),
    )
    top = cnt.withColumn("rn", rn).where(F.col("rn") == 1).select(
        "tok", F.col("nxt").alias("top_next"), F.col("c").alias("top_next_n")
    )
    return tot.join(top, "tok").select(
        "tok",
        "n_pairs",
        "n_successors",
        "top_next",
        "top_next_n",
        F.expr(f"(top_next_n * {BR_PPM}) DIV n_pairs").alias("top_share_ppm"),
    )


O_BIGRAM_BRANCHING = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
pairs AS (
  SELECT ts[k] AS tok, ts[k + 1] AS nxt
  FROM (SELECT ts, unnest(range(1, len(ts))) AS k FROM toks WHERE len(ts) >= 2)
  WHERE ts[k] != '' AND ts[k + 1] != ''),
cnt AS (
  SELECT tok, nxt, cast(count(*) as bigint) AS c
  FROM pairs GROUP BY tok, nxt),
tot AS (
  SELECT tok, cast(sum(c) as bigint) AS n_pairs,
         cast(count(*) as bigint) AS n_successors
  FROM cnt GROUP BY tok),
top AS (
  SELECT tok, nxt AS top_next, c AS top_next_n
  FROM (SELECT *, row_number() OVER (PARTITION BY tok
                                     ORDER BY c DESC, nxt ASC) AS rn
        FROM cnt)
  WHERE rn = 1)
SELECT tot.tok, tot.n_pairs, tot.n_successors,
       top.top_next, top.top_next_n,
       (top.top_next_n * {BR_PPM}) // tot.n_pairs AS top_share_ppm
FROM tot JOIN top ON top.tok = tot.tok
"""


# ------------------------- mixture independence audit (chi^2, 5u)

CHI_PPM = 1_000_000
CHI_MAX_DOCS = 1000  # sample bound: N <= 1000 keeps dev^2 * 1e6 < 2^60


def q_mixture_independence(spark, sf):
    """Exact chi-square decomposition of the (source, lang)
    contingency table — the independence audit a mixture planner runs
    before treating 'domain' and 'language' as separable axes
    (domain_mixture reweights by source; if language is NOT
    independent of source, that reweighting silently shifts the
    language mix too). Per cell: observed count, row/col totals, and
    the cell's chi-square contribution under independence — computed
    as EXACT integers: with E = row*col/N, the contribution
    (O - E)^2 / E equals (O*N - row*col)^2 / (N*row*col), so the
    emitted cell_chi2_ppm = ((O*N - row*col)^2 * 1e6) DIV
    (N*row*col) needs one floor division of exact BIGINTs — no float
    expectation anywhere. High-ppm cells are exactly the
    (source, lang) pairs whose coupling the mixture plan must
    respect.

    100 TB shape: the contingency table is one partial-aggregated
    groupBy over (source, lang) — bounded by domains x languages —
    with row/col/grand totals as three tiny broadcast aggregates
    joined back map-side. Reference analog: the per-language
    per-source census of A15/a2 lifted to a dependence test."""
    # bounded sample (constant at every sf): keeps the exact-integer
    # numerator (O*N - row*col)^2 * 1e6 below 2^60 — contingency
    # tables are mergeable counts, so production runs this per shard
    # and merges cells before the arithmetic
    d = _t(spark, sf, "documents").where(F.col("doc_id") < CHI_MAX_DOCS)
    cell = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    rowt = cell.groupBy("source").agg(F.sum("obs").alias("row_total"))
    colt = cell.groupBy("lang").agg(F.sum("obs").alias("col_total"))
    grand = cell.agg(F.sum("obs").alias("n_total"))
    j = (
        cell.join(F.broadcast(rowt), "source")
        .join(F.broadcast(colt), "lang")
        .crossJoin(F.broadcast(grand))
    )
    dev = F.col("obs") * F.col("n_total") - F.col("row_total") * F.col("col_total")
    return j.select(
        "source",
        "lang",
        "obs",
        "row_total",
        "col_total",
        "n_total",
        dev.alias("dev_num"),
        F.expr(
            f"((obs * n_total - row_total * col_total)"
            f" * (obs * n_total - row_total * col_total) * {CHI_PPM})"
            f" DIV (n_total * row_total * col_total)"
        ).alias("cell_chi2_ppm"),
    )


O_MIXTURE_INDEPENDENCE = f"""
WITH cell AS (
  SELECT source, lang, cast(count(*) as bigint) AS obs
  FROM documents WHERE doc_id < {CHI_MAX_DOCS} GROUP BY source, lang),
rowt AS (SELECT source, cast(sum(obs) as bigint) AS row_total FROM cell GROUP BY source),
colt AS (SELECT lang, cast(sum(obs) as bigint) AS col_total FROM cell GROUP BY lang),
grand AS (SELECT cast(sum(obs) as bigint) AS n_total FROM cell)
SELECT c.source, c.lang, c.obs, r.row_total, l.col_total, g.n_total,
       c.obs * g.n_total - r.row_total * l.col_total AS dev_num,
       ((c.obs * g.n_total - r.row_total * l.col_total)
          * (c.obs * g.n_total - r.row_total * l.col_total) * {CHI_PPM})
         // (g.n_total * r.row_total * l.col_total) AS cell_chi2_ppm
FROM cell c
JOIN rowt r ON r.source = c.source
JOIN colt l ON l.lang = c.lang
CROSS JOIN grand g
"""


# ------------------------------- per-source batch drift (5v)

DRIFT_BATCH = 64        # docs per ingestion batch (vocab_growth's axis)
DRIFT_PPM = 1_000_000
DRIFT_THRESH_PPM = 50_000  # flag batches deviating > 5% from source mean


def q_batch_drift(spark, sf):
    """Per-source ingestion-batch drift guardrail: for every (source,
    batch) cell, compare the batch's mean document length against the
    source's overall mean WITHOUT computing either mean — the
    deviation |sum_b * n_src - sum_src * n_b| is an exact BIGINT
    cross-product, its relative size in ppm is one floor division,
    and the drift flag is an exact integer comparison against the 5%
    threshold. This is the pipeline guardrail that catches a crawler
    or extractor change silently degrading ONE source's text (e.g.
    boilerplate suddenly retained) the batch it happens, before the
    corpus mixes it in; length is the canary metric because every
    extraction bug moves it.

    100 TB shape: one partial-aggregated groupBy(source, batch), a
    per-source rollup broadcast back (|sources| rows), map-side
    cross-product arithmetic. Same ingestion-batch axis as
    vocab_growth (rounds-as-batches). Reference analog: the
    per-source sanity counts of the reference's curation sweeps
    (SURVEY §2 A-family), lifted to a drift test."""
    d = _t(spark, sf, "documents")
    cell = d.groupBy(
        "source", F.expr(f"doc_id DIV {DRIFT_BATCH}").alias("batch")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    src = cell.groupBy("source").agg(
        F.sum("n_docs").alias("n_src"), F.sum("sum_chars").alias("sum_src")
    )
    j = cell.join(F.broadcast(src), "source")
    dev = F.abs(
        F.col("sum_chars") * F.col("n_src") - F.col("sum_src") * F.col("n_docs")
    )
    return j.select(
        "source",
        "batch",
        "n_docs",
        "sum_chars",
        "n_src",
        "sum_src",
        dev.alias("dev_num"),
        F.expr(
            f"(abs(sum_chars * n_src - sum_src * n_docs) * {DRIFT_PPM})"
            f" DIV (sum_src * n_docs)"
        ).alias("drift_ppm"),
    ).withColumn(
        "drifted",
        (
            F.col("dev_num") * F.lit(DRIFT_PPM).cast("long")
            > F.lit(DRIFT_THRESH_PPM).cast("long")
            * F.col("sum_src")
            * F.col("n_docs")
        ).cast("int"),
    )


O_BATCH_DRIFT = f"""
WITH cell AS (
  SELECT source, doc_id // {DRIFT_BATCH} AS batch,
         cast(count(*) as bigint) AS n_docs,
         cast(sum(n_chars) as bigint) AS sum_chars
  FROM documents GROUP BY 1, 2),
src AS (
  SELECT source, cast(sum(n_docs) as bigint) AS n_src,
         cast(sum(sum_chars) as bigint) AS sum_src
  FROM cell GROUP BY source)
SELECT c.source, c.batch, c.n_docs, c.sum_chars, s.n_src, s.sum_src,
       abs(c.sum_chars * s.n_src - s.sum_src * c.n_docs) AS dev_num,
       (abs(c.sum_chars * s.n_src - s.sum_src * c.n_docs) * {DRIFT_PPM})
         // (s.sum_src * c.n_docs) AS drift_ppm,
       cast(CASE WHEN abs(c.sum_chars * s.n_src - s.sum_src * c.n_docs)
                      * {DRIFT_PPM}
                    > {DRIFT_THRESH_PPM} * s.sum_src * c.n_docs
            THEN 1 ELSE 0 END as int) AS drifted
FROM cell c JOIN src s ON s.source = c.source
"""


# ----------------------- sampled join-size estimation (5v)

JSZ_SAMPLE_MOD = 8   # keep keys with md5 % 8 == 0 (1-in-8 key sample)
JSZ_PPM = 1_000_000


def q_join_size_estimate(spark, sf):
    """Sampled join-cardinality estimation — the statistic a
    distributed planner needs BEFORE choosing a join strategy at
    100 TB (broadcast vs shuffle vs skew-salt): |lineitem JOIN part
    ON partkey| is sum_k cnt_L(k) * cnt_P(k); estimate it from a
    deterministic 1-in-8 KEY sample (keep k iff md5('jsz:'||k) % 8 ==
    0 — sampling KEYS, not rows, keeps per-key frequency products
    exact) scaled by 8, next to the exact total, with the signed
    error in ppm. Key-sampling is the textbook estimator for
    FK-multiplicity joins (Vengerov et al., VLDB'15 join-size
    sketches are its refinement); the md5 gate makes the 'random'
    sample reproducible across engines and runs. Emitted per bucket
    of lineitem-side multiplicity (so the driver hash pins WHERE the
    mass sits, not one scalar): exact contribution, sampled-scaled
    contribution, and key counts.

    100 TB shape: two partial-aggregated key counts, one key-key
    join on the (tiny) sampled side for the estimate and one for the
    exact baseline — at production scale ONLY the sampled branch
    runs (the exact branch here is the verification oracle, same
    exact-next-to-estimate discipline as the HLL/CMS tiers).
    Reference analog: none — distributed-planning infrastructure."""
    li = _t(spark, sf, "lineitem").select(F.col("l_partkey").alias("k"))
    pa = _t(spark, sf, "part").select(F.col("p_partkey").alias("k"))
    cl = li.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("cl"))
    cp = pa.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("cp"))
    joined = cl.join(cp, "k").select(
        "k", "cl", "cp", (F.col("cl") * F.col("cp")).alias("contrib")
    )
    sampled = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("jsz:"), F.col("k").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(JSZ_SAMPLE_MOD),
    ) == 0
    flagged = joined.withColumn("in_sample", sampled.cast("long"))
    bucket = F.expr("cl DIV 8")
    return flagged.groupBy(bucket.alias("mult_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("in_sample").alias("n_sampled_keys"),
        F.sum("contrib").alias("exact_rows"),
        (F.sum(F.col("in_sample") * F.col("contrib")) * JSZ_SAMPLE_MOD).alias(
            "est_rows"
        ),
    )


O_JOIN_SIZE_ESTIMATE = f"""
WITH cl AS (
  SELECT l_partkey AS k, cast(count(*) as bigint) AS cl
  FROM lineitem GROUP BY 1),
cp AS (
  SELECT p_partkey AS k, cast(count(*) as bigint) AS cp
  FROM part GROUP BY 1),
j AS (
  SELECT cl.k, cl.cl, cp.cp, cl.cl * cp.cp AS contrib,
         CASE WHEN ('0x' || substring(md5('jsz:' || cast(cl.k as varchar)), 1, 15))
                     ::BIGINT % {JSZ_SAMPLE_MOD} = 0
              THEN 1 ELSE 0 END AS in_sample
  FROM cl JOIN cp ON cp.k = cl.k)
SELECT cl // 8 AS mult_bucket,
       cast(count(*) as bigint) AS n_keys,
       cast(sum(in_sample) as bigint) AS n_sampled_keys,
       cast(sum(contrib) as bigint) AS exact_rows,
       cast(sum(in_sample * contrib) as bigint) * {JSZ_SAMPLE_MOD} AS est_rows
FROM j GROUP BY 1
"""


# ------------------------------ cross-source overlap matrix (5x)

SRC_OVERLAP_PPM = 1_000_000


def _with_syndicated(d: DataFrame) -> DataFrame:
    """documents ∪ a syndicated copy of every third doc into the NEXT
    source (src{k} -> src{(k+1) mod 20}, same text) — the planted
    cross-source duplication this audit exists to find; deterministic
    and identical in the SQL twin."""
    orig = d.select("doc_id", "source", "text")
    synd = (
        d.where(F.col("doc_id") % 3 == 0)
        .select(
            F.col("doc_id"),
            F.concat(
                F.lit("src"),
                F.pmod(
                    F.regexp_extract("source", r"src(\d+)", 1).cast("long") + 1,
                    F.lit(20),
                ).cast("string"),
            ).alias("source"),
            "text",
        )
    )
    return orig.unionByName(synd)


def q_source_overlap(spark, sf):
    """Cross-source duplicate contamination matrix: for every ordered
    source pair (a < b), how many exact-duplicate fingerprints they
    SHARE, with each side's distinct-fingerprint count and the
    overlap in ppm of the smaller side. This is the syndication/
    mirror audit a corpus mixer runs before weighting sources as if
    they were independent — a pair sharing 30% of its content is one
    source counted twice (RefinedWeb and Dolma both report exactly
    this cross-dump dedup accounting). Fixture: every third document
    is syndicated into the next source, so adjacent pairs share mass
    and non-adjacent pairs are empty — both matrix regimes present.

    100 TB shape: fingerprints groupBy once on the hash key carrying
    a source set (collect_set over a bounded source universe), then
    the pair expansion explodes ONLY multi-source fingerprints
    (dup mass, not corpus mass) into a bounded pair-key aggregate —
    the matrix is |sources|^2 at worst, the shuffle is the same
    fingerprint key the exact-dedup tier already uses. Reference
    analog: S12's dup-tolerant insert accounting, lifted to a
    source-pair matrix."""
    alld = _with_syndicated(_t(spark, sf, "documents"))
    fp = alld.select(
        F.md5(F.lower(F.col("text"))).alias("fp"), "source"
    ).distinct()
    sets = fp.groupBy("fp").agg(F.collect_set("source").alias("srcs"))
    multi = sets.where(F.size("srcs") >= 2)
    pairs = multi.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.array_sort("srcs"),
                        lambda a: F.transform(
                            F.array_sort(F.col("srcs")), lambda b: F.struct(
                                a.alias("src_a"), b.alias("src_b")
                            )
                        ),
                    )
                ),
                lambda p: p["src_a"] < p["src_b"],
            )
        ).alias("p")
    ).select("p.src_a", "p.src_b")
    shared = pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared")
    )
    per_src = fp.groupBy("source").agg(
        F.countDistinct("fp").cast("long").alias("n_fp")
    )
    j = (
        shared.join(
            F.broadcast(per_src.select(F.col("source").alias("src_a"),
                                       F.col("n_fp").alias("fp_a"))),
            "src_a",
        )
        .join(
            F.broadcast(per_src.select(F.col("source").alias("src_b"),
                                       F.col("n_fp").alias("fp_b"))),
            "src_b",
        )
    )
    return j.select(
        "src_a",
        "src_b",
        "n_shared",
        "fp_a",
        "fp_b",
        F.expr(f"(n_shared * {SRC_OVERLAP_PPM}) DIV least(fp_a, fp_b)").alias(
            "overlap_ppm"
        ),
    )


O_SOURCE_OVERLAP = f"""
WITH alld AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id,
         'src' || cast((cast(regexp_extract(source, 'src(\\d+)', 1) as bigint) + 1) % 20
                       as varchar) AS source,
         text
  FROM documents WHERE doc_id % 3 = 0),
fp AS (SELECT DISTINCT md5(lower(text)) AS fp, source FROM alld),
pairs AS (
  SELECT a.fp, a.source AS src_a, b.source AS src_b
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source),
shared AS (
  SELECT src_a, src_b, cast(count(*) as bigint) AS n_shared
  FROM pairs GROUP BY src_a, src_b),
per_src AS (
  SELECT source, cast(count(DISTINCT fp) as bigint) AS n_fp
  FROM fp GROUP BY source)
SELECT s.src_a, s.src_b, s.n_shared,
       pa.n_fp AS fp_a, pb.n_fp AS fp_b,
       (s.n_shared * {SRC_OVERLAP_PPM}) // least(pa.n_fp, pb.n_fp)
         AS overlap_ppm
FROM shared s
JOIN per_src pa ON pa.source = s.src_a
JOIN per_src pb ON pb.source = s.src_b
"""


# ------------------------------- per-doc novelty scoring (5z)

NOV_PPM = 1_000_000


def q_doc_novelty(spark, sf):
    """Per-document novelty scoring over the 5-gram shingle universe
    — the data-valuation signal under contribution-aware sampling
    (what does THIS doc add that the corpus before it did not?): a
    shingle is credited to the LOWEST doc_id containing it
    (first-occurrence in ingestion order), and each document reports
    its shingle count, its novel-shingle count, and novelty in ppm.
    Docs with novelty near zero are redundant given their
    predecessors (candidates for down-sampling before dedup even
    runs); near-1e6 docs carry fresh content. vocab_growth is the
    BATCH rollup of exactly this credit assignment; this is the
    per-document ledger, and corpus_sample/token_budget_select can
    consume it as a quality column.

    100 TB shape: one exchange on the shingle key (min-doc credit —
    the same key the dedup tier shuffles), one groupBy(doc) rollup.
    The credit assignment is order-deterministic (doc_id, not
    arrival), so re-runs and resumes agree. Reference analog: none —
    training-data-valuation infrastructure per the brief."""
    d = _t(spark, sf, "documents")
    # sh feeds both the first-occurrence agg and the per-doc rollup —
    # checkpoint so the per-doc C-md5 shingle pass (_shingle_hash_rows:
    # the shingle string never leaves the scan stage, the exchange
    # carries 16-byte keys) runs once, not twice
    sh = _shingle_hash_rows(d).localCheckpoint(eager=False)
    # (doc_id, shingle) rows are unique (per-doc shingles are distinct),
    # so each shingle credits its min-doc exactly once: the per-doc
    # novel count is a rollup of the first-occurrence table itself — no
    # join-back of `first` onto the full shingle stream needed
    per_doc = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    novel = (
        sh.groupBy("h1", "h2")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return per_doc.join(novel, "doc_id", "left").fillna({"n_novel": 0}).select(
        "doc_id", "n_shingles", "n_novel"
    ).withColumn(
        "novelty_ppm", F.expr(f"(n_novel * {NOV_PPM}) DIV n_shingles")
    )


O_DOC_NOVELTY = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
      i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS tok
  FROM documents),
shf AS (SELECT doc_id, tok FROM sh WHERE tok != ''),
first AS (SELECT tok, min(doc_id) AS first_doc FROM shf GROUP BY tok)
SELECT s.doc_id,
       cast(count(*) as bigint) AS n_shingles,
       cast(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) as bigint)
         AS n_novel,
       (cast(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) as bigint)
          * {NOV_PPM}) // cast(count(*) as bigint) AS novelty_ppm
FROM shf s JOIN first f ON f.tok = s.tok
GROUP BY s.doc_id
"""


# ----------------------- exact rank normalization (6b)

RNORM_PPM = 1_000_000


def q_rank_normalize(spark, sf):
    """Exact rank normalization of heterogeneous document signals —
    the float-free feature scaling a composite quality score needs
    before mixing signals with incomparable units (chars vs tokens vs
    novelty): each signal is mapped to (RANK() - 1) * 1e6 DIV (n - 1)
    where RANK is the standard competition rank (ties share the rank,
    identical in both engines), so every signal lands in [0, 1e6]
    with its order exactly preserved and ties preserved as ties.
    Emitted per doc: both raw signals (n_chars; whitespace token
    count), both rank-ppm normalizations, and the combined score
    (their integer mean) — the two-signal composite in the same
    units. quality_classifier and token_budget_select can consume
    this directly in place of min-max scaling (which one outlier
    destroys; rank scaling is outlier-immune by construction).

    100 TB shape: two global sorts over the doc signal columns — at
    warehouse scale the same computation runs as a percentile
    approximation or a bucketed rank (a8's histogram tier); the
    exact form here is the calibration baseline, same discipline as
    the sketch tiers' exact legs. Reference analog: score
    normalization in the reference's user-ranking exports (SURVEY §2
    A-family stats), made explicit and float-free."""
    d = _t(spark, sf, "documents")
    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    base = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        toks.alias("n_tokens"),
    )
    from .operators.ranks import with_global_rank

    n_row = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # range-partitioned exact competition ranks (operators/ranks.py) —
    # ties share the smallest position exactly as SQL RANK(), with no
    # single-partition window
    ranked = with_global_rank(base, [("n_chars", True)], "rk_chars")
    ranked = with_global_rank(ranked, [("n_tokens", True)], "rk_toks")
    j = ranked.crossJoin(F.broadcast(n_row))
    return j.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.expr(f"((rk_chars - 1) * {RNORM_PPM}) DIV (n - 1)").alias(
            "chars_rank_ppm"
        ),
        F.expr(f"((rk_toks - 1) * {RNORM_PPM}) DIV (n - 1)").alias(
            "tokens_rank_ppm"
        ),
        F.expr(
            f"(((rk_chars - 1) * {RNORM_PPM}) DIV (n - 1)"
            f" + ((rk_toks - 1) * {RNORM_PPM}) DIV (n - 1)) DIV 2"
        ).alias("combined_ppm"),
    )


O_RANK_NORMALIZE = f"""
WITH base AS (
  SELECT doc_id, cast(n_chars as bigint) AS n_chars,
         cast(len(string_split(text, ' ')) as bigint) AS n_tokens
  FROM documents),
ranked AS (
  SELECT *,
         cast(rank() OVER (ORDER BY n_chars ASC) as bigint) AS rk_chars,
         cast(rank() OVER (ORDER BY n_tokens ASC) as bigint) AS rk_toks,
         cast(count(*) OVER () as bigint) AS n
  FROM base)
SELECT doc_id, n_chars, n_tokens,
       ((rk_chars - 1) * {RNORM_PPM}) // (n - 1) AS chars_rank_ppm,
       ((rk_toks - 1) * {RNORM_PPM}) // (n - 1) AS tokens_rank_ppm,
       (((rk_chars - 1) * {RNORM_PPM}) // (n - 1)
          + ((rk_toks - 1) * {RNORM_PPM}) // (n - 1)) // 2 AS combined_ppm
FROM ranked
"""


# ------------------------- LSH (b, r) config chooser (6c)

# candidate bandings of the 8-hash signature: (bands, rows_per_band)
LSHC_CONFIGS = ((2, 4), (4, 2), (8, 1))
LSHC_HIGH_J10 = 8   # "true pair" = jaccard decile >= 0.8
LSHC_PPM = 1_000_000


def q_lsh_config_chooser(spark, sf):
    """LSH banding chooser on the calibration sample: for EACH way of
    banding the same 8-hash minhash signature — (2 bands x 4 rows:
    precise), (4 x 2: the registered production config), (8 x 1:
    recall-greedy) — the empirical candidate-pair cost, the recall on
    high-jaccard pairs (decile >= 0.8), and the precision among
    candidates, all integer ppm on the same three-level planted
    sample as lsh_s_curve. The s-curve VALIDATES one config against
    theory; this puts the alternatives side by side the way a dedup
    tier actually chooses: more rows per band moves the S-curve right
    (fewer candidates, lower recall), fewer moves it left. The config
    whose recall clears the target at the lowest candidate cost wins;
    at 8 hashes that trade is real in both directions on this sample.

    100 TB shape: one signature build (the dedup tier's exchange),
    then per config a band-key self-join over the SAMPLE only —
    calibration, not the corpus path (dedup_minhash_lsh remains the
    production single-shuffle tier). All-pairs truth is the same
    sample-bounded baseline as lsh_s_curve."""
    sample = _scurve_sample_spark(_t(spark, sf, "documents"))
    sh = sample.select("doc_id", _shingles_spark(F.col("text")).alias("sh"))
    toks = sample.select(
        "doc_id", F.explode(_shingles_spark(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    sigs = toks.groupBy("doc_id").agg(*_minhash_cols())
    a, b = sh.alias("a"), sh.alias("b")
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
            .cast("long")
            .alias("i"),
            F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
            .cast("long")
            .alias("u"),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.expr("(10 * i) DIV u") >= LSHC_HIGH_J10).cast("long").alias("hi"),
        )
    )
    out = None
    for nb, rows in LSHC_CONFIGS:
        bands = sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band_idx"),
                            F.concat_ws(
                                "|",
                                *[F.col(f"h{bi * rows + ri}") for ri in range(rows)],
                            ).alias("band_val"),
                        )
                        for bi in range(nb)
                    ]
                )
            ).alias("band"),
        ).select("doc_id", "band.band_idx", "band.band_val")
        x, y = bands.alias("x"), bands.alias("y")
        cands = (
            x.join(
                y,
                (F.col("x.band_idx") == F.col("y.band_idx"))
                & (F.col("x.band_val") == F.col("y.band_val"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
            )
            .distinct()
            .withColumn("cand", F.lit(1).cast("long"))
        )
        j = truth.join(cands, ["doc_a", "doc_b"], "left").fillna({"cand": 0})
        agg = j.agg(
            F.sum("cand").alias("n_candidates"),
            F.sum("hi").alias("n_high_pairs"),
            F.sum(F.col("cand") * F.col("hi")).alias("n_caught"),
        ).select(
            F.lit(nb).cast("long").alias("bands"),
            F.lit(rows).cast("long").alias("rows_per_band"),
            "n_candidates",
            "n_high_pairs",
            "n_caught",
            F.expr(f"(n_caught * {LSHC_PPM}) DIV n_high_pairs").alias("recall_ppm"),
            F.expr(
                f"CASE WHEN n_candidates > 0 THEN"
                f" (n_caught * {LSHC_PPM}) DIV n_candidates ELSE 0 END"
            ).alias("precision_ppm"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def _o_lsh_config_chooser() -> str:
    M = 1 << 59
    hs = ",\n         ".join(
        f"min((('0x' || substring(md5(tok), 1, 15))::BIGINT % {M}"
        f" + {k} * (('0x' || substring(md5(tok), 17, 15))::BIGINT % {M})) % {M})"
        f" AS h{k}"
        for k in range(N_MINHASH)
    )
    shingles = (
        "list_distinct(list_transform("
        "range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1), "
        "i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))"
    )
    per_cfg = []
    for nb, rows in LSHC_CONFIGS:
        joins = "\nUNION\n".join(
            "SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bands_{nb} x "
            "JOIN bands_{nb} y ON x.b{bi} = y.b{bi} AND x.doc_id < y.doc_id".format(
                nb=nb, bi=bi
            )
            for bi in range(nb)
        )
        band_cols = ", ".join(
            "concat_ws('|', "
            + ", ".join(f"h{bi * rows + ri}" for ri in range(rows))
            + f") AS b{bi}"
            for bi in range(nb)
        )
        per_cfg.append(
            f"""bands_{nb} AS (SELECT doc_id, {band_cols} FROM sigs),
cands_{nb} AS ({joins}),
agg_{nb} AS (
  SELECT cast({nb} as bigint) AS bands, cast({rows} as bigint) AS rows_per_band,
         cast(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) as bigint)
           AS n_candidates,
         cast(sum(t.hi) as bigint) AS n_high_pairs,
         cast(sum(CASE WHEN c.doc_a IS NOT NULL THEN t.hi ELSE 0 END) as bigint)
           AS n_caught
  FROM truth t LEFT JOIN cands_{nb} c
    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)"""
        )
    cfg_sql = ",\n".join(per_cfg)
    finals = " UNION ALL ".join(
        f"SELECT *, (n_caught * {LSHC_PPM}) // n_high_pairs AS recall_ppm, "
        f"CASE WHEN n_candidates > 0 THEN (n_caught * {LSHC_PPM}) // n_candidates "
        f"ELSE 0 END AS precision_ppm FROM agg_{nb}"
        for nb, _ in LSHC_CONFIGS
    )
    return f"""
WITH docs AS (
  SELECT cast(doc_id as varchar) AS doc_id, text
  FROM documents WHERE doc_id < {SCURVE_DOCS}
  UNION ALL
  SELECT cast(doc_id as varchar) || '_nd',
         substring(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id < {SCURVE_DOCS}
  UNION ALL
  SELECT cast(doc_id as varchar) || '_h',
         array_to_string(
           (string_split(text, ' '))[1:cast(ceil(len(string_split(text, ' ')) / 2) as int)],
           ' ')
  FROM documents WHERE doc_id < {SCURVE_DOCS}),
sh AS (SELECT doc_id, {shingles} AS sh FROM docs),
toks AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
sigs AS (
  SELECT doc_id,
         {hs}
  FROM toks WHERE tok != '' GROUP BY doc_id),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CASE WHEN (10 * len(list_intersect(a.sh, b.sh)))
                     // len(list_distinct(list_concat(a.sh, b.sh)))
                   >= {LSHC_HIGH_J10}
              THEN 1 ELSE 0 END AS hi
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
{cfg_sql}
{finals}
"""


O_LSH_CONFIG_CHOOSER = _o_lsh_config_chooser()


# --------------------- column encoding-choice statistics (6d)

ENC_PPM = 1_000_000
ENC_COLUMNS = ("lang", "source")
ENC_CHUNK = 1024  # doc_ids per run-count chunk (two-phase lag scan)


def q_column_stats_for_encoding(spark, sf):
    """Parquet/ORC encoding-choice statistics per column — the
    warehouse-layout decision THIS engine's own storage tier makes
    when writing the corpus: dictionary encoding pays off when the
    distinct ratio is low; run-length encoding pays off when values
    repeat in ADJACENT rows of the write order. Per column: row
    count, distinct count and ratio (dictionary signal), and the
    run count in doc_id order with the run-compression ratio (RLE
    signal; n_runs/n near 1e6 means RLE is useless, near 0 means
    the column is sorted/clustered). Exact integers: runs are
    value-change counts over a lag window in write order — the same
    ordered-scan shape as the gap tiers.

    100 TB shape: the distinct side partial-aggregates per column;
    the run side is one lag window in write order per column
    (at warehouse scale this statistic is computed per row group —
    same arithmetic over bounded rows). The unpivot is a literal
    2-column stack. Reference analog: none — storage-layout
    infrastructure the 100 TB target requires (the bucketBy/sortBy
    decisions cited across PLANS.md are downstream of exactly these
    numbers)."""
    d = _t(spark, sf, "documents")
    outs = []
    for col in ENC_COLUMNS:
        # two-phase run count (the sequence_packing idiom): the lag
        # window partitions by a doc_id-derived chunk (distributed),
        # and only the per-chunk (first, last) boundary table — tiny,
        # aggregated input — sees an ordered window. Boundary rows the
        # chunk window counted as run starts are subtracted when the
        # previous chunk's last value would NOT have started a run
        # under the global lag (same null semantics: a null/none
        # comparison never starts a run).
        chunked = d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(col).cast("string").alias("v"),
        ).withColumn("chunk", F.expr(f"doc_id DIV {ENC_CHUNK}"))
        wc = W.partitionBy("chunk").orderBy("doc_id")
        within = chunked.withColumn("prev", F.lag("v").over(wc)).withColumn(
            "new_run",
            F.when(
                F.col("prev").isNull() | (F.col("v") != F.col("prev")), 1
            )
            .otherwise(0)
            .cast("long"),
        )
        per_chunk = within.groupBy("chunk").agg(
            F.sum("new_run").alias("nr"),
            F.expr("min_by(v, doc_id)").alias("first_v"),
            F.expr("max_by(v, doc_id)").alias("last_v"),
        )
        wg = W.orderBy("chunk")
        adj = per_chunk.withColumn(
            "prev_last", F.lag("last_v").over(wg)
        ).withColumn("has_prev", F.lag(F.lit(1)).over(wg)).withColumn(
            "over",
            F.when(
                F.col("has_prev").isNotNull()
                & ~F.coalesce(
                    F.col("prev_last").isNull()
                    | (F.col("first_v") != F.col("prev_last")),
                    F.lit(False),
                ),
                1,
            )
            .otherwise(0)
            .cast("long"),
        )
        runs = adj.agg((F.sum("nr") - F.sum("over")).alias("n_runs"))
        stats = d.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(col).cast("long").alias("n_distinct"),
        )
        outs.append(
            stats.crossJoin(runs).select(
                F.lit(col).alias("column_name"),
                "n_rows",
                "n_distinct",
                F.expr(f"(n_distinct * {ENC_PPM}) DIV n_rows").alias(
                    "distinct_ppm"
                ),
                F.col("n_runs").cast("long").alias("n_runs"),
                F.expr(f"(n_runs * {ENC_PPM}) DIV n_rows").alias("runs_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _o_column_stats() -> str:
    parts = []
    for col in ENC_COLUMNS:
        parts.append(
            f"""SELECT '{col}' AS column_name,
       (SELECT cast(count(*) as bigint) FROM documents) AS n_rows,
       (SELECT cast(count(DISTINCT {col}) as bigint) FROM documents)
         AS n_distinct,
       ((SELECT cast(count(DISTINCT {col}) as bigint) FROM documents)
          * {ENC_PPM})
         // (SELECT cast(count(*) as bigint) FROM documents) AS distinct_ppm,
       (SELECT cast(sum(CASE WHEN prev IS NULL OR v <> prev THEN 1 ELSE 0 END)
                    as bigint)
        FROM (SELECT cast({col} as varchar) AS v,
                     lag(cast({col} as varchar)) OVER (ORDER BY doc_id) AS prev
              FROM documents)) AS n_runs,
       ((SELECT cast(sum(CASE WHEN prev IS NULL OR v <> prev THEN 1 ELSE 0 END)
                     as bigint)
         FROM (SELECT cast({col} as varchar) AS v,
                      lag(cast({col} as varchar)) OVER (ORDER BY doc_id) AS prev
               FROM documents)) * {ENC_PPM})
         // (SELECT cast(count(*) as bigint) FROM documents) AS runs_ppm"""
        )
    return "\nUNION ALL\n".join(parts)


O_COLUMN_STATS_FOR_ENCODING = _o_column_stats()


# ---------------------- quality-ranked dedup keepers (6f)


def q_dedup_keeper_quality(spark, sf):
    """Quality-ranked keeper selection over near-dup clusters — the
    curation policy choice dedup_clusters leaves open: the connected
    components of the LSH pair graph say WHICH docs are duplicates;
    THIS query picks who survives, by (n_chars desc, doc_id asc) —
    keep the LONGEST member (truncated copies lose to their fuller
    original) instead of the arbitrary min-id convention — and emits
    both choices side by side with a differs flag, so the driver
    hash pins exactly where the policy changes the outcome.
    Dolma/RefinedWeb both keep a 'best' representative this way;
    min-id is what a naive GROUP BY gives you.

    Fixture note: near-dup clusters are base + '_nd' (first token
    dropped) — the base doc is strictly longer, so quality-keep
    chooses the base while min-id ALSO chooses the base (string
    '100' < '100_nd'); the policies AGREE on pure pairs and DIFFER
    exactly on multi-doc chains where a longer doc has a larger id —
    both regimes occur (tested).

    100 TB shape: clusters come from the audited CC operator over
    LSH candidate pairs (the dedup_clusters path); the keeper picks
    are two per-cluster max_by/min aggregations on the cluster key.
    Reference analog: S12 dup-tolerant insert keeps the FIRST copy;
    this is the curation-grade upgrade."""
    from .operators.dedup import connected_components

    d = _t(spark, sf, "documents")
    pairs = _lsh_pairs(_with_near_dups(d))
    cc = connected_components(pairs, "doc_a", "doc_b")
    base = _with_near_dups(d).select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    memb = cc.select(F.col("node").alias("doc_id"), "component").join(
        base, "doc_id"
    )
    agg = memb.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.min("doc_id").alias("keeper_minid"),
        F.expr("max_by(doc_id, struct(n_chars, doc_id))").alias("keeper_quality"),
        F.max("n_chars").alias("keeper_chars"),
    )
    return agg.where(F.col("cluster_size") >= 2).withColumn(
        "differs",
        (F.col("keeper_minid") != F.col("keeper_quality")).cast("int"),
    )


def _o_keeper_quality() -> str:
    ctes, joins = _o_minhash_parts()
    return f"""
WITH RECURSIVE {ctes},
pairs AS ({joins}),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.u, x.v FROM reach r JOIN und x ON r.v = x.u),
comp AS (SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u),
chars AS (
  SELECT cast(doc_id as varchar) AS doc_id,
         cast(length(text) as bigint) AS n_chars
  FROM documents
  UNION ALL
  SELECT cast(doc_id as varchar) || '_nd',
         cast(length(substring(text, strpos(text, ' ') + 1)) as bigint)
  FROM documents),
memb AS (
  SELECT comp.doc_id, comp.component, chars.n_chars
  FROM comp JOIN chars ON chars.doc_id = comp.doc_id),
agg AS (
  SELECT component,
         cast(count(*) as bigint) AS cluster_size,
         min(doc_id) AS keeper_minid,
         first(doc_id ORDER BY n_chars DESC, doc_id DESC) AS keeper_quality,
         cast(max(n_chars) as bigint) AS keeper_chars
  FROM memb GROUP BY component)
SELECT component, cluster_size, keeper_minid, keeper_quality, keeper_chars,
       cast(CASE WHEN keeper_minid <> keeper_quality THEN 1 ELSE 0 END as int)
         AS differs
FROM agg WHERE cluster_size >= 2
"""


O_DEDUP_KEEPER_QUALITY = _o_keeper_quality()


# -------------------------- export integrity manifest (6h)

MANI_MOD = 1 << 44  # digest space sized so partition sums stay in int64


def q_export_manifest(spark, sf):
    """Per-partition export manifest with ORDER-INSENSITIVE content
    checksums — what a distributed writer emits alongside each output
    partition so a reader (or a cross-cluster transfer) can verify
    integrity without re-reading content: per language partition, the
    row count, the SUM of per-doc 59-bit md5 content digests (sum is
    commutative, so the checksum is independent of task order and
    MERGEABLE across file splits — the HLL-register philosophy
    applied to integrity), the XOR-free min/max digest as corner
    evidence, and the total byte mass. A single flipped document
    changes the sum; a duplicated or dropped row changes count and
    sum together.

    100 TB shape: map-side digest + one partial-aggregated
    groupBy(partition key); manifests merge by adding counts and
    sums — writers never coordinate. Reference analog: the
    reference's export scripts ship raw CSVs with no integrity
    trailer; this is the warehouse-grade upgrade the 100 TB target
    requires."""
    d = _t(spark, sf, "documents")
    digest = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(MANI_MOD),
    )
    rows = d.select(
        "lang",
        digest.alias("dg"),
        F.length("text").cast("long").alias("nb"),
    )
    return rows.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("dg").alias("digest_sum"),
        F.min("dg").alias("digest_min"),
        F.max("dg").alias("digest_max"),
        F.sum("nb").alias("bytes_total"),
    )


O_EXPORT_MANIFEST = f"""
WITH rows_ AS (
  SELECT lang,
         ('0x' || substring(md5(cast(doc_id as varchar) || '|' || text), 1, 15))
           ::BIGINT % {MANI_MOD} AS dg,
         cast(length(text) as bigint) AS nb
  FROM documents)
SELECT lang,
       cast(count(*) as bigint) AS n_rows,
       cast(sum(dg) as bigint) AS digest_sum,
       cast(min(dg) as bigint) AS digest_min,
       cast(max(dg) as bigint) AS digest_max,
       cast(sum(nb) as bigint) AS bytes_total
FROM rows_ GROUP BY lang
"""


# -------------------- minhash estimator bias audit (6i)

MHB_PPM = 1_000_000


def q_minhash_estimator_bias(spark, sf):
    """Bias audit of the minhash jaccard ESTIMATOR itself: over the
    calibration sample's all-pairs truth, group pairs by exact
    jaccard decile and compare the total matching-minhash count
    against its expectation — E[matches] = K * J per pair, so per
    decile sum(matches) should track sum over pairs of K*J. Emitted:
    pair count, observed match total, the exact expectation
    NUMERATOR sum over pairs of K*i*u_inv... kept exact as the pair
    of integers (sum of K*i*(u_denominator-normalized)): we emit
    sum_matches, and the exact-jaccard mass as (sum_i_times_K,
    sum_u) so the bias check is a cross-multiplied comparison —
    observed/n vs K*sum_i/sum_u — plus both sides in ppm for
    reading. The s-curve validated the BANDING; this validates the
    underlying per-hash collision probability Pr[h_min(A) =
    h_min(B)] = J that everything above it assumes.

    100 TB shape: signature build once (the dedup exchange),
    all-pairs on the SAMPLE only (the calibration discipline), one
    decile rollup."""
    sample = _scurve_sample_spark(_t(spark, sf, "documents"))
    sh = sample.select("doc_id", _shingles_spark(F.col("text")).alias("sh"))
    toks = sample.select(
        "doc_id", F.explode(_shingles_spark(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    sigs = toks.groupBy("doc_id").agg(*_minhash_cols())
    j = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
            .cast("long")
            .alias("i"),
            F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
            .cast("long")
            .alias("u"),
        )
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{k}").alias(f"a{k}") for k in range(N_MINHASH)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{k}").alias(f"b{k}") for k in range(N_MINHASH)],
    )
    matches = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(N_MINHASH)
    )
    full = (
        j.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.expr("(10 * i) DIV u").alias("jaccard_bucket"),
            matches.cast("long").alias("m"),
            "i",
            "u",
        )
    )
    agg = full.groupBy("jaccard_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("m").alias("sum_matches"),
        F.sum(F.col("i") * F.lit(N_MINHASH).cast("long")).alias("sum_ki"),
        F.sum("u").alias("sum_u"),
    )
    return agg.select(
        "jaccard_bucket",
        "n_pairs",
        "sum_matches",
        "sum_ki",
        "sum_u",
        F.expr(f"(sum_matches * {MHB_PPM}) DIV (n_pairs * {N_MINHASH})").alias(
            "observed_ppm"
        ),
        F.expr(f"(sum_ki * {MHB_PPM}) DIV (sum_u * {N_MINHASH})").alias(
            "expected_ppm"
        ),
    )


def _o_minhash_bias() -> str:
    M = 1 << 59
    hs = ",\n         ".join(
        f"min((('0x' || substring(md5(tok), 1, 15))::BIGINT % {M}"
        f" + {k} * (('0x' || substring(md5(tok), 17, 15))::BIGINT % {M})) % {M})"
        f" AS h{k}"
        for k in range(N_MINHASH)
    )
    shingles = (
        "list_distinct(list_transform("
        "range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1), "
        "i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))"
    )
    matches = " + ".join(
        f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END" for k in range(N_MINHASH)
    )
    return f"""
WITH docs AS (
  SELECT cast(doc_id as varchar) AS doc_id, text
  FROM documents WHERE doc_id < {SCURVE_DOCS}
  UNION ALL
  SELECT cast(doc_id as varchar) || '_nd',
         substring(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id < {SCURVE_DOCS}
  UNION ALL
  SELECT cast(doc_id as varchar) || '_h',
         array_to_string(
           (string_split(text, ' '))[1:cast(ceil(len(string_split(text, ' ')) / 2) as int)],
           ' ')
  FROM documents WHERE doc_id < {SCURVE_DOCS}),
sh AS (SELECT doc_id, {shingles} AS sh FROM docs),
toks AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
sigs AS (
  SELECT doc_id,
         {hs}
  FROM toks WHERE tok != '' GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         cast(len(list_intersect(a.sh, b.sh)) as bigint) AS i,
         cast(len(list_distinct(list_concat(a.sh, b.sh))) as bigint) AS u
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
full_ AS (
  SELECT (10 * p.i) // p.u AS jaccard_bucket,
         cast({matches} as bigint) AS m,
         p.i, p.u
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.doc_a
  JOIN sigs sb ON sb.doc_id = p.doc_b)
SELECT jaccard_bucket,
       cast(count(*) as bigint) AS n_pairs,
       cast(sum(m) as bigint) AS sum_matches,
       cast(sum(i * {N_MINHASH}) as bigint) AS sum_ki,
       cast(sum(u) as bigint) AS sum_u,
       (cast(sum(m) as bigint) * {MHB_PPM})
         // (cast(count(*) as bigint) * {N_MINHASH}) AS observed_ppm,
       (cast(sum(i * {N_MINHASH}) as bigint) * {MHB_PPM})
         // (cast(sum(u) as bigint) * {N_MINHASH}) AS expected_ppm
FROM full_ GROUP BY jaccard_bucket
"""


O_MINHASH_ESTIMATOR_BIAS = _o_minhash_bias()


# ------------------- quality x novelty quadrant census (6j)

QNQ_PPM = 1_000_000


def q_quality_novelty_quadrants(spark, sf):
    """The curation 2x2: split documents at the median on BOTH the
    quality proxy (n_chars rank) and the novelty ledger (doc_novelty's
    first-occurrence share), and census the four quadrants — the
    decision table a corpus pipeline actually acts on: hi-quality
    hi-novelty is kept outright, hi-quality lo-novelty goes to dedup
    (good text, already represented), lo-quality hi-novelty goes to
    cleanup (unique but rough), lo-lo is dropped. Splits are EXACT
    median ranks (ties resolved by the rank rule, same in both
    engines); per quadrant: doc count, total shingle mass, novel-
    shingle mass, and char mass — the sizes of the four pipeline
    branches.

    100 TB shape: the novelty side is the doc_novelty exchange
    (shingle-key min-doc credit); the quality rank is one bounded
    sort; the census partial-aggregates on a 4-value key. Reference
    analog: none — corpus-triage infrastructure per the brief."""
    d = _t(spark, sf, "documents")
    # sh feeds both the first-occurrence agg and the per-doc rollup —
    # checkpoint so the per-doc C-md5 shingle pass (_shingle_hash_rows:
    # 16-byte keys instead of shingle strings on every exchange) runs
    # once, not twice
    sh = _shingle_hash_rows(d).localCheckpoint(eager=False)
    # (doc_id, shingle) rows are unique, so each shingle credits its
    # min-doc exactly once: the novel count is a rollup of the
    # first-occurrence table — no join-back onto the shingle stream
    per_doc = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    novel = (
        sh.groupBy("h1", "h2")
        .agg(F.min("doc_id").alias("fd"))
        .groupBy(F.col("fd").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nov"))
    )
    nov = per_doc.join(novel, "doc_id", "left").fillna({"n_nov": 0})
    # base is one row per doc but its lineage holds both shingle-stream
    # aggregations; the rank passes each consume their input twice
    # (bucket histogram + join-back) and n_row once more — checkpoint
    # so the novelty join runs once, not ~5x (guide §2.4)
    base = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    ).join(nov, "doc_id").localCheckpoint(eager=False)
    from .operators.ranks import with_global_rank

    n_row = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # range-partitioned exact ranks (operators/ranks.py) — no
    # single-partition windows; both keys carry the doc_id tiebreak so
    # they are unique and rank == positional rank. The novelty order
    # key is the exact fraction n_nov/n_sh as a double of two exact
    # ints, ties by doc_id — materialized as a column for the range
    # exchange, dropped after.
    ratio = F.col("n_nov").cast("double") / F.col("n_sh").cast("double")
    ranked = with_global_rank(
        base.withColumn("__ratio", ratio),
        [("n_chars", True), ("doc_id", True)],
        "rq",
        method="row_number",
    )
    ranked = with_global_rank(
        ranked,
        [("__ratio", True), ("doc_id", True)],
        "rn",
        method="row_number",
        # the ratio is continuous — bucket it monotonically so the
        # prior-count table stays tiny
        bucket=F.floor(F.col("__ratio") * 4096).cast("long"),
    ).drop("__ratio").crossJoin(F.broadcast(n_row))
    flagged = ranked.select(
        (F.col("rq") * 2 > F.col("n")).cast("int").alias("hi_quality"),
        (F.col("rn") * 2 > F.col("n")).cast("int").alias("hi_novelty"),
        "n_sh",
        "n_nov",
        "n_chars",
    )
    return flagged.groupBy("hi_quality", "hi_novelty").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_sh").alias("shingle_mass"),
        F.sum("n_nov").alias("novel_mass"),
        F.sum("n_chars").alias("char_mass"),
    )


O_QUALITY_NOVELTY_QUADRANTS = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
      i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS tok
  FROM documents),
shf AS (SELECT doc_id, tok FROM sh WHERE tok != ''),
first AS (SELECT tok, min(doc_id) AS fd FROM shf GROUP BY tok),
nov AS (
  SELECT s.doc_id,
         cast(count(*) as bigint) AS n_sh,
         cast(sum(CASE WHEN f.fd = s.doc_id THEN 1 ELSE 0 END) as bigint)
           AS n_nov
  FROM shf s JOIN first f ON f.tok = s.tok GROUP BY s.doc_id),
base AS (
  SELECT d.doc_id, cast(d.n_chars as bigint) AS n_chars, nov.n_sh, nov.n_nov
  FROM documents d JOIN nov ON nov.doc_id = d.doc_id),
ranked AS (
  SELECT *,
         cast(rank() OVER (ORDER BY n_chars ASC, doc_id ASC) as bigint) AS rq,
         cast(rank() OVER (ORDER BY cast(n_nov as double) / cast(n_sh as double)
                             ASC, doc_id ASC) as bigint) AS rn,
         cast(count(*) OVER () as bigint) AS n
  FROM base)
SELECT cast(CASE WHEN rq * 2 > n THEN 1 ELSE 0 END as int) AS hi_quality,
       cast(CASE WHEN rn * 2 > n THEN 1 ELSE 0 END as int) AS hi_novelty,
       cast(count(*) as bigint) AS n_docs,
       cast(sum(n_sh) as bigint) AS shingle_mass,
       cast(sum(n_nov) as bigint) AS novel_mass,
       cast(sum(n_chars) as bigint) AS char_mass
FROM ranked GROUP BY 1, 2
"""


# ------------------------- storage tiering placement (6j)

TIER_PPM = 1_000_000


def q_storage_tiering(spark, sf):
    """Hot/warm/cold storage placement by access-rank terciles — the
    data-temperature decision a 100 TB corpus store makes when
    choosing NVMe vs disk vs object storage per object: synthesize a
    deterministic Zipf-ish access count per doc (floor(1e6 / (1 +
    md5 % 1000)) — a few very hot docs, a long cold tail), rank by
    (access desc, doc_id) and cut at exact tercile ranks (Hamilton
    splits). Per tier: object count, byte mass, total access mass,
    and the access share in ppm — the classic result that the hot
    tercile carries the overwhelming access share while the cold
    tercile carries ~a third of the bytes, which is exactly why
    tiering pays.

    100 TB shape: map-side access synthesis, one bounded rank sort
    (at warehouse scale the rank cut becomes an access-count
    threshold from equidepth_edges' histogram — same decision, no
    global sort), one 3-key census. Reference analog: none —
    storage-economics infrastructure the brief's scale requires."""
    d = _t(spark, sf, "documents")
    base = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("nb"),
    ).withColumn(
        "access",
        F.expr(
            "1000000 DIV (1 + pmod(cast(conv(substring(md5(concat('acc:', "
            "cast(doc_id as string))), 1, 15), 16, 10) as bigint), 1000))"
        ),
    )
    from .operators.ranks import with_global_rank

    n_row = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # range-partitioned exact rank (operators/ranks.py) — no
    # single-partition window; the (access desc, doc_id) key is unique
    # so positional rank is deterministic
    ranked = with_global_rank(
        base, [("access", False), ("doc_id", True)], "rk", method="row_number"
    ).crossJoin(F.broadcast(n_row))
    tier = (
        F.when(F.expr("rk * 3 <= n"), F.lit("hot"))
        .when(F.expr("rk * 3 <= 2 * n"), F.lit("warm"))
        .otherwise(F.lit("cold"))
    )
    tot = base.agg(F.sum("access").alias("total_access"))
    return (
        ranked.withColumn("tier", tier)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nb").alias("bytes_total"),
            F.sum("access").alias("access_total"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "tier",
            "n_docs",
            "bytes_total",
            "access_total",
            F.expr(f"(access_total * {TIER_PPM}) DIV total_access").alias(
                "access_share_ppm"
            ),
        )
    )


O_STORAGE_TIERING = f"""
WITH base AS (
  SELECT doc_id, cast(n_chars as bigint) AS nb,
         1000000 // (1 + ('0x' || substring(md5('acc:' || cast(doc_id as varchar)), 1, 15))
                       ::BIGINT % 1000) AS access
  FROM documents),
nrow AS (SELECT cast(count(*) as bigint) AS n FROM base),
ranked AS (
  SELECT base.*, nrow.n,
         cast(row_number() OVER (ORDER BY access DESC, doc_id ASC) as bigint)
           AS rk
  FROM base, nrow),
tiered AS (
  SELECT *,
         CASE WHEN rk * 3 <= n THEN 'hot'
              WHEN rk * 3 <= 2 * n THEN 'warm'
              ELSE 'cold' END AS tier
  FROM ranked),
tot AS (SELECT cast(sum(access) as bigint) AS total_access FROM base)
SELECT tier,
       cast(count(*) as bigint) AS n_docs,
       cast(sum(nb) as bigint) AS bytes_total,
       cast(sum(access) as bigint) AS access_total,
       (cast(sum(access) as bigint) * {TIER_PPM}) // tot.total_access
         AS access_share_ppm
FROM tiered, tot GROUP BY tier, tot.total_access
"""


# ---------------------- postings intersection cost (6k)

PIX_TOP_TERMS = 8
PIX_PPM = 1_000_000


def q_postings_intersection(spark, sf):
    """AND-query cost over the inverted index: for every pair of the
    PIX_TOP_TERMS highest-df terms, the exact posting-list
    intersection size and its selectivity against the smaller list —
    the statistic a search planner uses to order a conjunctive
    query's term merges (start with the most selective pair) and the
    empirical check of the independence assumption df_a*df_b/N that
    naive planners make. All integers: intersections are doc-key
    joins, top terms are a bounded df sort with ties to the
    lexicographically first term.

    100 TB shape: posting lists come from the inverted_index tier's
    one term exchange; the pair intersections join doc-id sets for a
    BOUNDED top-term set (28 pairs) — planner statistics, not query
    execution. Reference analog: the search half of S14's index
    export, given its cost model."""
    d = _t(spark, sf, "documents")

    # per-doc DISTINCT terms are a local property — emit them from one
    # Arrow pass per document instead of explode + global DISTINCT
    # (which shuffled the full 2.7M-row term stream just to dedup
    # within doc groups; guide §2.1/§4.2). Checkpointed: ex feeds both
    # the df aggregation and the posting join.
    def distinct_terms(batches):
        import pandas as pd

        for pdf in batches:
            out_doc, out_term = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for t in set(text.lower().split(" ")):
                    if t:
                        out_doc.append(doc_id)
                        out_term.append(t)
            yield pd.DataFrame({"doc_id": out_doc, "term": out_term})

    from .operators.dedup import spread_for_explode

    ex = (
        spread_for_explode(d, "doc_id")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .mapInPandas(distinct_terms, schema="doc_id long, term string")
        .localCheckpoint(eager=False)
    )
    df = ex.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    top = (
        df.orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(PIX_TOP_TERMS)
        .select("term", "df")
    )
    post = ex.join(F.broadcast(top.select("term")), "term")
    a = post.select(F.col("term").alias("term_a"), "doc_id")
    b = post.select(F.col("term").alias("term_b"), "doc_id")
    inter = (
        a.join(b, "doc_id")
        .where(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ta = top.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    tb = top.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    n_row = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        inter.join(F.broadcast(ta), "term_a")
        .join(F.broadcast(tb), "term_b")
        .crossJoin(F.broadcast(n_row))
        .select(
            "term_a",
            "term_b",
            "df_a",
            "df_b",
            "n_both",
            F.expr(f"(n_both * {PIX_PPM}) DIV least(df_a, df_b)").alias(
                "selectivity_ppm"
            ),
            F.expr(f"(df_a * df_b * {PIX_PPM}) DIV (n_docs * least(df_a, df_b))")
            .alias("independence_ppm"),
        )
    )


O_POSTINGS_INTERSECTION = f"""
WITH ex AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents)
  WHERE term != ''),
df AS (SELECT term, cast(count(*) as bigint) AS df FROM ex GROUP BY term),
top AS (
  SELECT term, df FROM df ORDER BY df DESC, term ASC LIMIT {PIX_TOP_TERMS}),
post AS (SELECT ex.term, ex.doc_id FROM ex JOIN top ON top.term = ex.term),
inter AS (
  SELECT a.term AS term_a, b.term AS term_b,
         cast(count(*) as bigint) AS n_both
  FROM post a JOIN post b ON b.doc_id = a.doc_id AND a.term < b.term
  GROUP BY a.term, b.term),
nrow AS (SELECT cast(count(*) as bigint) AS n_docs FROM documents)
SELECT i.term_a, i.term_b, ta.df AS df_a, tb.df AS df_b, i.n_both,
       (i.n_both * {PIX_PPM}) // least(ta.df, tb.df) AS selectivity_ppm,
       (ta.df * tb.df * {PIX_PPM}) // (nrow.n_docs * least(ta.df, tb.df))
         AS independence_ppm
FROM inter i
JOIN top ta ON ta.term = i.term_a
JOIN top tb ON tb.term = i.term_b
CROSS JOIN nrow
"""


# ----------------------- exact BM25 tf saturation (6l)

BM25_PPM = 1_000_000
BM25_TERMS = ("scan", "window", "agg", "join")  # watchlist terms (corpus vocab)


def q_bm25_tf_exact(spark, sf):
    """BM25's term-frequency saturation computed EXACTLY: with k1 =
    3/2 and b = 3/4 the classic score tf*(k1+1) / (tf + k1*(1 - b +
    b*dl/avgdl)) is a rational whose numerator and denominator clear
    to integers after multiplying through by 8*sum_len (avgdl =
    sum_len/n_docs substitutes exactly): score = 20*tf*sum_len /
    (8*tf*sum_len + 3*(sum_len + 3*dl*n_docs)) — one ppm floor
    division per (term, doc), no float anywhere. Emitted for a
    4-term watchlist: per (term, doc) the tf, doc length, exact
    score, and the per-term rank — the ranking half of the S14
    search-export family (inverted_index built the postings,
    postings_intersection priced the merges; THIS scores the hits),
    demonstrating that even IR's canonical 'float' formula ships
    under the driver's exact hash when the parameters are rational.

    100 TB shape: tf is one (term, doc) aggregation over the
    watchlist-filtered token stream (broadcast watchlist); dl/avgdl
    ride one doc-length aggregate + a 1-row broadcast; ranks are
    per-term bounded windows."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).where(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    totals = dl.agg(
        F.sum("dl").alias("sum_len"), F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tf = (
        toks.where(F.col("term").isin(*BM25_TERMS))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    j = tf.join(dl, "doc_id").crossJoin(F.broadcast(totals))
    score = F.expr(
        f"(20 * tf * sum_len * {BM25_PPM})"
        f" DIV (8 * tf * sum_len + 3 * (sum_len + 3 * dl * n_docs))"
    )
    scored = j.withColumn("score_ppm", score)
    rk = F.row_number().over(
        W.partitionBy("term").orderBy(
            F.col("score_ppm").desc(), F.col("doc_id").asc()
        )
    )
    return scored.withColumn("term_rank", rk.cast("long")).where(
        F.col("term_rank") <= 5
    ).select("term", "doc_id", "tf", "dl", "score_ppm", "term_rank")


O_BM25_TF_EXACT = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
tf_ AS (
  SELECT term, doc_id, cast(count(*) as bigint) AS tf
  FROM toks WHERE term IN {repr(tuple(BM25_TERMS))} GROUP BY term, doc_id),
dl_ AS (
  SELECT doc_id, cast(count(*) as bigint) AS dl
  FROM toks WHERE term != '' GROUP BY doc_id),
tot AS (
  SELECT cast(sum(dl) as bigint) AS sum_len,
         cast(count(*) as bigint) AS n_docs
  FROM dl_),
scored AS (
  SELECT tf_.term, tf_.doc_id, tf_.tf, dl_.dl,
         (20 * tf_.tf * tot.sum_len * {BM25_PPM})
           // (8 * tf_.tf * tot.sum_len
               + 3 * (tot.sum_len + 3 * dl_.dl * tot.n_docs)) AS score_ppm
  FROM tf_ JOIN dl_ ON dl_.doc_id = tf_.doc_id CROSS JOIN tot)
SELECT term, doc_id, tf, dl, score_ppm,
       cast(rn as bigint) AS term_rank
FROM (SELECT *, row_number() OVER (PARTITION BY term
                                   ORDER BY score_ppm DESC, doc_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""


# ---------------------- bigram-hit LM proxy scoring (6l)

BHS_TOP_K = 50
BHS_PPM = 1_000_000


def q_bigram_hit_score(spark, sf):
    """Log-free language-model proxy: score each document by the
    share of its bigrams that appear in the corpus's top-BHS_TOP_K
    bigram list — fluent text is built from common transitions, and
    a doc full of rare bigrams is either novel or broken (which is
    why dsir/ccnet bucket on LM scores; this is the exact-integer
    stand-in that needs no model and no log-probabilities). Emitted
    per doc: bigram count, hits, hit share in ppm, and the quality
    decile by exact rank — directly consumable by the selection
    tiers. The top-K list is a bounded aggregate (ties broken
    lexicographically), so the whole score is reproducible across
    engines bit-for-bit.

    100 TB shape: the bigram stream explodes once (per-doc bounded);
    the top-K list is one aggregation + broadcast; the per-doc score
    is a map-side semi-join count. Reference analog: the word-
    frequency quality heuristics of twkit's text tiers, lifted to
    transition space."""
    d = _t(spark, sf, "documents")

    def bigram_arr(toks):
        # let-bound tokens: element_at on the lambda variable is O(1);
        # on the raw split() expression it re-evaluates the split per
        # element (O(len^2) per doc)
        idx = F.when(
            F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda k: F.concat_ws(
                " ", F.element_at(toks, k), F.element_at(toks, k + 1)
            ),
        )

    pairs = (
        d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(
                _let(F.split(F.lower(F.col("text")), " "), bigram_arr)
            ).alias("bg"),
        )
        .where(~F.col("bg").startswith(" ") & ~F.col("bg").endswith(" "))
        # pairs feeds BOTH the top-K aggregation and the per-doc score —
        # checkpoint so the bigram stream is computed once, not twice
        .localCheckpoint(eager=False)
    )
    top = (
        pairs.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("bg").asc())
        .limit(BHS_TOP_K)
        .select("bg")
        .withColumn("hit", F.lit(1).cast("long"))
    )
    per = (
        pairs.join(F.broadcast(top), "bg", "left")
        .fillna({"hit": 0})
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("hit").alias("n_hits"),
        )
        .withColumn("hit_ppm", F.expr(f"(n_hits * {BHS_PPM}) DIV n_bigrams"))
    )
    from .operators.ranks import with_global_rank

    n_row = per.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # range-partitioned exact rank (operators/ranks.py) — unique
    # (hit_ppm, doc_id) key, no single-partition window
    return (
        with_global_rank(
            per, [("hit_ppm", True), ("doc_id", True)], "rk",
            method="row_number",
            bucket=F.expr("hit_ppm DIV 1024"),
        )
        .crossJoin(F.broadcast(n_row))
        .withColumn("quality_decile", F.expr("((rk - 1) * 10) DIV n"))
        .select("doc_id", "n_bigrams", "n_hits", "hit_ppm", "quality_decile")
    )


O_BIGRAM_HIT_SCORE = f"""
WITH toksl AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
pairs AS (
  SELECT doc_id, ts[k] || ' ' || ts[k + 1] AS bg
  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS k
        FROM toksl WHERE len(ts) >= 2)
  WHERE ts[k] != '' AND ts[k + 1] != ''),
top AS (
  SELECT bg FROM (
    SELECT bg, count(*) AS c FROM pairs GROUP BY bg)
  ORDER BY c DESC, bg ASC LIMIT {BHS_TOP_K}),
per AS (
  SELECT p.doc_id,
         cast(count(*) as bigint) AS n_bigrams,
         cast(sum(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) as bigint)
           AS n_hits
  FROM pairs p LEFT JOIN top t ON t.bg = p.bg
  GROUP BY p.doc_id),
scored AS (
  SELECT doc_id, n_bigrams, n_hits,
         (n_hits * {BHS_PPM}) // n_bigrams AS hit_ppm
  FROM per),
ranked AS (
  SELECT *,
         cast(rank() OVER (ORDER BY hit_ppm ASC, doc_id ASC) as bigint) AS rk,
         cast(count(*) OVER () as bigint) AS n
  FROM scored)
SELECT doc_id, n_bigrams, n_hits, hit_ppm,
       ((rk - 1) * 10) // n AS quality_decile
FROM ranked
"""


# ----------------------- vocabulary concentration (6m)

TC_KS = (1, 2, 4, 8, 16)
TC_PPM = 1_000_000


def q_term_concentration(spark, sf):
    """CR-k vocabulary concentration: what share of the corpus's
    token mass do the top-k terms carry, for k across a grid — the
    concentration-ratio curve (industrial-organization CR-k applied
    to vocabulary) that decides whether term-keyed work (the
    inverted index, the PMI pair join, the bigram tiers) needs
    heavy-hitter handling: CR-16 near 1e6 means a handful of
    stopword-like terms dominate every shuffle on the term key and
    deserve the salting/threshold treatment; a flat curve means the
    term key is naturally balanced. Exact: term counts, one bounded
    rank sort (ties lexicographic), cumulative top-k mass per grid
    point in ppm.

    100 TB shape: one term-key count (the index exchange), a bounded
    top-k head, |grid| output rows. Companion of heavy_hitters
    (which finds hot URLS) on the term axis, and the measured
    justification for the min-df/stop-shingle caps the dedup and PMI
    tiers already apply."""
    d = _t(spark, sf, "documents")
    toks = (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"))
        .where(F.col("term") != "")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    total = counts.agg(F.sum("c").alias("mass"))
    rk = F.row_number().over(W.orderBy(F.col("c").desc(), F.col("term").asc()))
    ranked = counts.withColumn("rk", rk.cast("long"))
    cum = ranked.withColumn(
        "cum",
        F.sum("c").over(
            W.orderBy(F.col("c").desc(), F.col("term").asc()).rowsBetween(
                W.unboundedPreceding, 0
            )
        ),
    )
    out = None
    for k in TC_KS:
        row = (
            cum.where(F.col("rk") == k)
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(k).cast("long").alias("k"),
                F.col("cum").alias("top_k_mass"),
                F.col("mass").alias("total_mass"),
                F.expr(f"(cum * {TC_PPM}) DIV mass").alias("cr_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


O_TERM_CONCENTRATION = f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
counts AS (
  SELECT term, cast(count(*) as bigint) AS c
  FROM toks WHERE term != '' GROUP BY term),
tot AS (SELECT cast(sum(c) as bigint) AS mass FROM counts),
ranked AS (
  SELECT c,
         cast(row_number() OVER (ORDER BY c DESC, term ASC) as bigint) AS rk,
         cast(sum(c) OVER (ORDER BY c DESC, term ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
           AS cum
  FROM counts)
SELECT cast(k as bigint) AS k, r.cum AS top_k_mass, tot.mass AS total_mass,
       (r.cum * {TC_PPM}) // tot.mass AS cr_ppm
FROM (SELECT unnest([{", ".join(str(k) for k in TC_KS)}]) AS k) ks
JOIN ranked r ON r.rk = ks.k
CROSS JOIN tot
"""


# ----------------------- id-space gap/island census (6n)

GAP_LANG = "en"


def q_id_gap_islands(spark, sf):
    """Gaps-and-islands over a partition's document id space — the
    data-loss detector a warehouse runs after a partial export or a
    botched compaction: project the GAP_LANG partition's sorted
    doc_ids into contiguous islands (consecutive ids) using the
    id - row_number island key, and report the census — island
    count, largest island, total missing ids inside the span, and
    the largest single gap with its position. An export that dropped
    a file shows as one anomalous gap; id-space fragmentation beyond
    the filter's natural thinning shows in the island-size
    distribution. Complements export_manifest (which checks content
    integrity) with ID-SPACE integrity, and failure_streaks (islands
    over time) with islands over KEYS.

    100 TB shape: one ordered window scan inside the partition + an
    island rollup — the streaks exchange on a different axis.
    Emitted as ONE summary row so the driver hash pins the whole
    census."""
    from .operators.ranks import with_global_rank

    d = _t(spark, sf, "documents")
    ids = d.where(F.col("lang") == GAP_LANG).select(
        F.col("doc_id").cast("long").alias("id")
    )
    # range-partitioned exact row numbers (operators/ranks.py) instead
    # of single-partition windows: the island key comes from the global
    # row number over unique ids; the successor lookup over the island
    # table becomes an equi-join on consecutive row numbers
    isl = with_global_rank(
        ids, [("id", True)], "rn", method="row_number",
        bucket=F.expr("id DIV 8192"),
    )
    isl = isl.withColumn("island", F.col("id") - F.col("rn")).drop("rn")
    runs = isl.groupBy("island").agg(
        F.count(F.lit(1)).cast("long").alias("run_len"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
    )
    ranked_runs = with_global_rank(
        runs, [("lo", True)], "rn", method="row_number",
        bucket=F.expr("lo DIV 8192"),
    )
    nxt = ranked_runs.select(
        (F.col("rn") - 1).alias("rn"), F.col("lo").alias("next_lo")
    )
    gaps = ranked_runs.join(nxt, "rn", "left").withColumn(
        "gap", F.col("next_lo") - F.col("hi") - 1
    )
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("run_len").alias("n_ids"),
        F.max("run_len").alias("largest_island"),
        F.min("lo").alias("span_lo"),
        F.max("hi").alias("span_hi"),
        (F.max("hi") - F.min("lo") + 1 - F.sum("run_len")).alias("n_missing"),
        F.max("gap").alias("largest_gap"),
    )


O_ID_GAP_ISLANDS = f"""
WITH ids AS (
  SELECT cast(doc_id as bigint) AS id FROM documents WHERE lang = '{GAP_LANG}'),
isl AS (
  SELECT id, id - cast(row_number() OVER (ORDER BY id) as bigint) AS island
  FROM ids),
runs AS (
  SELECT island, cast(count(*) as bigint) AS run_len,
         min(id) AS lo, max(id) AS hi
  FROM isl GROUP BY island),
gaps AS (
  SELECT *, lead(lo) OVER (ORDER BY lo) - hi - 1 AS gap FROM runs)
SELECT cast(count(*) as bigint) AS n_islands,
       cast(sum(run_len) as bigint) AS n_ids,
       cast(max(run_len) as bigint) AS largest_island,
       cast(min(lo) as bigint) AS span_lo,
       cast(max(hi) as bigint) AS span_hi,
       cast(max(hi) - min(lo) + 1 - sum(run_len) as bigint) AS n_missing,
       cast(max(gap) as bigint) AS largest_gap
FROM gaps
"""
