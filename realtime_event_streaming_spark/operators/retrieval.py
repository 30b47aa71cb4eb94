"""Retrieval operators over ``documents`` / ``embeddings``: BM25 term
search and hybrid lexical+vector rank fusion.

Extension surface for RAG / retrieval-augmented training pipelines (no
counterpart in the reference, whose query corpus is pure OLAP —
SURVEY.md §2.9 note). Two shapes every retrieval stack runs:

- **BM25 top-k**: the Okapi BM25(k1=1.2, b=0.75) ranking function over
  the corpus inverted index, for a deterministic query-term set (the
  corpus's rarest tokens — on the fixture that surfaces the 'dup'
  mutation marker with a high idf against the uniform word-soup
  background).
- **Hybrid RRF**: reciprocal-rank fusion (Cormack et al., the fixed
  1/(K+rank) variant with K=60) of a lexical ranking (token Jaccard)
  and a vector ranking (embedding cosine) for the same query documents
  — the standard way production search fuses BM25 and ANN results
  without score calibration.

Both are pure relational plans (explode -> bounded group-bys -> window
top-k); no UDFs. All scores are rounded to ROUND_DIGITS before any
ranking comparison so cross-engine float drift cannot flip a rank.

Scale notes (100 TB): BM25's big shuffle is the (tok) postings
group-by — bounded by vocabulary, not corpus; the query-term table is
tiny and broadcast into the postings join, and scoring touches ONLY
the probed terms' postings (filter pushes into the scan of a real
inverted-index layout). Hybrid RRF broadcasts the bounded query-doc
set against the corpus exactly like `ann_bruteforce`'s query side; at
cluster scale the candidate generation swaps for the LSH/IVF bucketed
variants (`ann_ivf_kmeans_topk`) with the same fusion tail.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import dialect as D
from ..io import read_index_parquet, register_views
from ..registry import format_doc, register

BM25_K1 = 1.2
BM25_B = 0.75
N_QUERY_TERMS = 5
BM25_TOPK = 10

RRF_K = 60
N_QUERY_DOCS = 5
RRF_TOPK = 10

# ---------------------------------------------------------------------------
# Okapi BM25 top-k per query term
# ---------------------------------------------------------------------------

#: one SQL text for both engines; only the tokenizer line differs
#: (DuckDB unnest(string_split(...)) vs Spark explode(split(...))).
#: Scoring arithmetic is written once so both engines evaluate the
#: identical expression tree over exact-integer inputs (tf, dl, df, N).
_BM25_BODY = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT cast(count(*) AS DOUBLE) AS n_docs,
         avg(cast(dl AS DOUBLE)) AS avgdl
  FROM doclen
),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
qterms AS (
  SELECT term, df FROM df
  ORDER BY df ASC, term ASC LIMIT {N_QUERY_TERMS}
),
tf AS (
  SELECT toks.doc_id, toks.term, count(*) AS tf
  FROM toks JOIN qterms ON toks.term = qterms.term
  GROUP BY toks.doc_id, toks.term
),
scored AS (
  SELECT tf.term, tf.doc_id,
         round(
           ln(1.0 + (stats.n_docs - qterms.df + 0.5) / (qterms.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                + {BM25_B} * doclen.dl / stats.avgdl)),
           4) AS bm25
  FROM tf
  JOIN qterms ON tf.term = qterms.term
  JOIN doclen ON tf.doc_id = doclen.doc_id
  CROSS JOIN stats
),
ranked AS (
  SELECT term, doc_id, bm25,
         row_number() OVER (PARTITION BY term
                            ORDER BY bm25 DESC, doc_id) AS rnk
  FROM scored
)
SELECT term, rnk, doc_id, bm25 FROM ranked
WHERE rnk <= {BM25_TOPK}
ORDER BY term, rnk
"""

_BM25_SPARK = D.to_spark_sql(
    _BM25_BODY,
    ("unnest(string_split(text, ' '))", "explode(split(text, ' '))"),
)


@register("bm25_topk", _BM25_BODY, headline=True, tags=("text", "retrieval"))
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(_BM25_SPARK)
bm25_topk.__doc__ = """Okapi BM25 (k1={k1}, b={b}) top-{k} documents for each of the
    {n} rarest corpus terms (df ASC, term ASC — deterministic), the
    inverted-index ranking function behind every lexical retrieval
    stack. idf uses the ln(1 + (N-df+.5)/(df+.5)) form (always
    positive); scores round to 4dp before ranking, ties break on
    doc_id.

    Scale notes (100 TB): the postings build is one explode + two
    vocabulary-bounded group-bys (df is |vocab| rows, tf is |postings
    of probed terms| rows — the qterms join prunes scoring to the
    probed terms BEFORE the tf aggregation, so the scoring shuffle is
    O(matching postings), not O(corpus tokens)). The 5-row qterms and
    1-row stats tables broadcast. On a real deployment the toks CTE is
    a materialized postings table partitioned by term — the plan then
    reads only the probed partitions.""".format(
        k1=BM25_K1, b=BM25_B, k=BM25_TOPK, n=N_QUERY_TERMS
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of lexical + vector ranks
# ---------------------------------------------------------------------------

#: lexical arm: token-set Jaccard between query doc and candidate doc
#: (distinct tokens — the `dedup_ngram_jaccard` similarity at unigram
#: grain); vector arm: embedding cosine (the `ann_bruteforce` score,
#: doc_id and vec_id are the same id space in the fixture). Each arm
#: ranks by (rounded score DESC, id); fusion score is
#: sum(1/(K+rank)) over the two arms — rational in the ranks, so
#: bit-identical across engines at 4dp.
_RRF_BODY = f"""
WITH dtoks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
),
tokcount AS (SELECT doc_id, count(*) AS nt FROM dtoks GROUP BY doc_id),
qdocs AS (SELECT doc_id FROM documents WHERE doc_id < {N_QUERY_DOCS}),
overlap AS (
  SELECT q.doc_id AS query_id, c.doc_id AS cand_id, count(*) AS inter
  FROM dtoks q JOIN dtoks c ON q.term = c.term AND c.doc_id <> q.doc_id
  JOIN qdocs ON q.doc_id = qdocs.doc_id
  GROUP BY q.doc_id, c.doc_id
),
lex AS (
  SELECT query_id, cand_id,
         round(cast(inter AS DOUBLE)
               / (tq.nt + tc.nt - inter), 4) AS jac
  FROM overlap
  JOIN tokcount tq ON overlap.query_id = tq.doc_id
  JOIN tokcount tc ON overlap.cand_id = tc.doc_id
),
lexrank AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY jac DESC, cand_id) AS lrank
  FROM lex
),
vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS norm
  FROM embeddings
),
vec AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round(list_dot_product(q.v, c.v) / (q.norm * c.norm), 4) AS cosine
  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERY_DOCS}
),
vecrank AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, cand_id) AS vrank
  FROM vec
),
fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.cand_id, v.cand_id) AS cand_id,
         round(coalesce(cast(1 AS DOUBLE) / ({RRF_K} + l.lrank),
                        cast(0 AS DOUBLE))
               + coalesce(cast(1 AS DOUBLE) / ({RRF_K} + v.vrank),
                          cast(0 AS DOUBLE)), 4) AS rrf,
         l.lrank AS lrank, v.vrank AS vrank
  FROM lexrank l
  FULL OUTER JOIN vecrank v
    ON l.query_id = v.query_id AND l.cand_id = v.cand_id
),
final AS (
  SELECT query_id, cand_id, rrf, lrank, vrank,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, cand_id) AS rnk
  FROM fused
)
SELECT query_id, rnk, cand_id, rrf, lrank, vrank
FROM final WHERE rnk <= {RRF_TOPK}
ORDER BY query_id, rnk
"""

_RRF_SPARK = D.to_spark_sql(
    _RRF_BODY,
    ("unnest(string_split(text, ' '))", "explode(split(text, ' '))"),
    ("sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))",
     "sqrt(aggregate(zip_with(v, v, (x, y) -> x * y), cast(0 AS DOUBLE),"
     " (acc, x) -> acc + x))"),
    ("embedding::DOUBLE[] AS v",
     "transform(embedding, x -> cast(x AS DOUBLE)) AS v"),
    ("list_dot_product(q.v, c.v)",
     "aggregate(zip_with(q.v, c.v, (x, y) -> x * y), cast(0 AS DOUBLE),"
     " (acc, x) -> acc + x)"),
)


@register("hybrid_rrf_retrieval", _RRF_BODY, tags=("retrieval", "similarity"))
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("documents", "embeddings"))
    return spark.sql(_RRF_SPARK)
hybrid_rrf_retrieval.__doc__ = """Hybrid search: fuse a lexical ranking (distinct-token Jaccard)
    and a vector ranking (embedding cosine — doc_id/vec_id share the
    fixture id space) with reciprocal-rank fusion, score =
    1/({K}+lex_rank) + 1/({K}+vec_rank). Top-{k} fused candidates per
    query doc (doc_id < {n}). RRF is the calibration-free fusion used
    when BM25 and ANN scores live on incomparable scales; the fused
    score is rational in the two integer ranks, so cross-engine
    determinism is exact.

    Scale notes (100 TB): both arms broadcast the bounded query set;
    the lexical arm's overlap group-by is keyed on (query, candidate)
    pairs that SHARE a token (postings-intersection sized, not
    all-pairs — the qdocs join prunes before the group-by); the
    vector arm is the documented labeled-baseline shape whose
    production form is the IVF probe. The fusion itself is a join on
    (query, candidate) — O(topk-ish candidate sets), trivially
    shuffled.""".format(K=RRF_K, k=RRF_TOPK, n=N_QUERY_DOCS)


# ---------------------------------------------------------------------------
# product-quantization ANN (PQ codebook training + ADC top-k)
# ---------------------------------------------------------------------------

PQ_M = 4        # subspaces
PQ_SUBDIM = 16  # dims per subspace (4 x 16 = the 64-dim embedding)
PQ_K = 8        # codewords per subspace codebook
PQ_NQ = 10      # query vectors: vec_id < PQ_NQ (matches the ANN family)
PQ_TOPK = 5

#: squared L2 over one PQ subspace, DuckDB form (16-dim diff fold).
_PQD2_DUCK = (
    f"list_dot_product("
    f"list_transform(generate_series(1, {PQ_SUBDIM}), i -> {{a}}[i] - {{b}}[i]), "
    f"list_transform(generate_series(1, {PQ_SUBDIM}), i -> {{a}}[i] - {{b}}[i]))"
)
#: same fold, Spark form.
_PQD2_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "cast(0 AS DOUBLE), (acc, x) -> acc + x)"
)

#: ADC sum in a FIXED evaluation order: one conditional aggregate per
#: subspace (each sums exactly one addend, hence exact), then a
#: left-to-right 4-term addition both engines evaluate identically —
#: a plain sum(dd) would expose cross-engine float-summation order.
_ADC_TERMS = " + ".join(f"d{s}" for s in range(1, PQ_M + 1))
_ADC_CASES_SQL = ",\n         ".join(
    f"sum(CASE WHEN s = {s} THEN dd END) AS d{s}" for s in range(1, PQ_M + 1)
)

_PQ_DUCK = f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
subs AS (
  SELECT vec_id, s,
         list_transform(generate_series(1, {PQ_SUBDIM}),
                        i -> v[(s - 1) * {PQ_SUBDIM} + i]) AS sv
  FROM vecs, UNNEST(generate_series(1, {PQ_M})) AS g(s)
),
c0 AS (SELECT s, vec_id AS cid, sv AS cv FROM subs WHERE vec_id < {PQ_K}),
dist1 AS (
  SELECT q.vec_id, q.s, c0.cid,
         round({_PQD2_DUCK.format(a="q.sv", b="c0.cv")}, 4) AS dd
  FROM subs q JOIN c0 ON q.s = c0.s
),
a1 AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dd, cid) AS rn
    FROM dist1
  ) WHERE rn = 1
),
m1 AS (
  SELECT a1.s, a1.cid, i, round(avg(subs.sv[i]), 4) AS m
  FROM a1 JOIN subs ON a1.vec_id = subs.vec_id AND a1.s = subs.s,
       UNNEST(generate_series(1, {PQ_SUBDIM})) AS gi(i)
  GROUP BY a1.s, a1.cid, i
),
c1 AS (SELECT s, cid, list(m ORDER BY i) AS cv FROM m1 GROUP BY s, cid),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT q.vec_id, q.s, c1.cid,
           row_number() OVER (PARTITION BY q.vec_id, q.s
               ORDER BY round({_PQD2_DUCK.format(a="q.sv", b="c1.cv")}, 4),
                        c1.cid) AS rn
    FROM subs q JOIN c1 ON q.s = c1.s
  ) WHERE rn = 1
),
lut AS (
  SELECT q.vec_id AS qid, q.s, c1.cid,
         round({_PQD2_DUCK.format(a="q.sv", b="c1.cv")}, 4) AS dd
  FROM subs q JOIN c1 ON q.s = c1.s
  WHERE q.vec_id < {PQ_NQ}
),
pair AS (
  SELECT lut.qid, codes.vec_id AS nid, lut.s, lut.dd
  FROM codes JOIN lut ON codes.s = lut.s AND codes.cid = lut.cid
  WHERE codes.vec_id <> lut.qid
),
parts AS (
  SELECT qid, nid,
         {_ADC_CASES_SQL}
  FROM pair GROUP BY qid, nid
),
adc AS (
  SELECT qid AS query_id, nid AS neighbor_id,
         round({_ADC_TERMS}, 4) AS adc_d2
  FROM parts
),
ranked AS (
  SELECT query_id, neighbor_id, adc_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d2, neighbor_id) AS rnk
  FROM adc
)
SELECT query_id, rnk, neighbor_id, adc_d2
FROM ranked WHERE rnk <= {PQ_TOPK}
ORDER BY query_id, rnk
"""


def _pq_subvectors(vecs: DataFrame) -> DataFrame:
    """(vec_id, s, sv): the PQ_M 16-dim subvectors of each embedding —
    one explode of a literal M-element array, no shuffle."""
    parts = F.array(
        *[
            F.struct(
                F.lit(s + 1).alias("s"),
                F.slice("v", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
            )
            for s in range(PQ_M)
        ]
    )
    return vecs.select("vec_id", F.explode(parts).alias("e")).select(
        "vec_id", "e.s", "e.sv"
    )


def _pq_assign(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest codeword per (vector, subspace): broadcast the M*K-row
    codebook, join on subspace, rank by (rounded subspace-L2, cid)."""
    from pyspark.sql import Window

    d2 = F.round(F.expr(_PQD2_SPARK.format(a="sv", b="cv")), 4)
    w = Window.partitionBy("vec_id", "s").orderBy("dd", "cid")
    return (
        subs.join(F.broadcast(cents), "s")
        .select("vec_id", "s", "cid", d2.alias("dd"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "s", "cid")
    )


@register("pq_adc_topk", _PQ_DUCK, tags=("similarity", "retrieval"))
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"),
    )
    subs = _pq_subvectors(vecs)

    # -- train: deterministic init + one Lloyd round, rounded means
    c0 = subs.where(F.col("vec_id") < PQ_K).select(
        "s", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    a1 = _pq_assign(subs, c0)
    m1 = (
        a1.join(subs, ["vec_id", "s"])
        .select("s", "cid", F.posexplode("sv").alias("i0", "x"))
        .groupBy("s", "cid", "i0")
        .agg(F.round(F.avg("x"), 4).alias("m"))
    )
    c1 = m1.groupBy("s", "cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i0, m))), e -> e.m)"
        ).alias("cv")
    )

    # -- encode the corpus; build the per-query LUT against the SAME
    #    codebook
    codes = _pq_assign(subs, c1)
    lut = (
        subs.where(F.col("vec_id") < PQ_NQ)
        .join(F.broadcast(c1), "s")
        .select(
            F.col("vec_id").alias("qid"),
            "s",
            "cid",
            F.round(F.expr(_PQD2_SPARK.format(a="sv", b="cv")), 4).alias("dd"),
        )
    )

    # -- ADC: map each code to its LUT entry, sum per (query, neighbor)
    #    in fixed subspace order
    pair = codes.join(F.broadcast(lut), ["s", "cid"]).where(
        F.col("vec_id") != F.col("qid")
    )
    parts = pair.groupBy("qid", "vec_id").agg(
        *[
            F.sum(F.when(F.col("s") == s, F.col("dd"))).alias(f"d{s}")
            for s in range(1, PQ_M + 1)
        ]
    )
    adc = parts.select(
        F.col("qid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.round(F.expr(_ADC_TERMS), 4).alias("adc_d2"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= PQ_TOPK)
        .select("query_id", "rnk", "neighbor_id", "adc_d2")
        .orderBy("query_id", "rnk")
    )
pq_adc_topk.__doc__ = """Product-quantization ANN (Jégou et al., PQ with asymmetric
    distance computation): split the 64-dim embedding into {m} x
    {d}-dim subspaces, train one codebook of {k} codewords per
    subspace (deterministic init = first {k} vectors' subvectors, one
    Lloyd round, means rounded 4dp so both engines iterate from
    identical codebooks), encode every vector as {m} one-byte codes,
    then answer each query (vec_id < {nq}) by ADC: a {m}x{k}-entry
    lookup table of query-subvector-to-codeword distances, summed over
    the code tuple in a FIXED 4-term order (each term is a
    single-addend conditional aggregate, so no float-summation-order
    drift). Top-{topk} per query by (rounded ADC distance, id). One
    Lloyd round (vs kmeans_centroids' 2) keeps the inline oracle
    tractable; the production path trains once and materializes the
    codebook like `probe_ann_index`.

    Scale notes (100 TB): this is the memory-bound ANN compression
    path — the corpus at rest is {m} bytes/vector of codes (256x
    smaller than the float64 vectors), the codebook is M*K rows and
    always broadcast, and the ADC scan never touches the original
    embeddings. The pair join is (codes x per-query LUT) on (s, cid)
    — candidate-side work is a map-side broadcast-hash join over the
    code table; the only shuffle is the (query, neighbor) group-by,
    O(M x corpus) rows keyed evenly. At cluster scale the code table
    is additionally IVF-partitioned (IVF-PQ) so each query touches
    nprobe cells only — same plan tail.""".format(
        m=PQ_M, d=PQ_SUBDIM, k=PQ_K, nq=PQ_NQ, topk=PQ_TOPK
    )




# ---------------------------------------------------------------------------
# IVF-PQ: coarse cell pruning composed with PQ-ADC scoring
# ---------------------------------------------------------------------------

#: PQ CTE block with a name prefix, so the coarse k-means CTEs
#: (c0..c2 from similarity._KMEANS_CTES) and the PQ codebook CTEs can
#: coexist in ONE oracle without collisions.
def _pq_duck_ctes(prefix: str, src: str = "vecs") -> str:
    p = prefix
    return f"""
{p}subs AS (
  SELECT vec_id, s,
         list_transform(generate_series(1, {PQ_SUBDIM}),
                        i -> v[(s - 1) * {PQ_SUBDIM} + i]) AS sv
  FROM {src}, UNNEST(generate_series(1, {PQ_M})) AS g(s)
),
{p}c0 AS (SELECT s, vec_id AS cid, sv AS cv FROM {p}subs
          WHERE vec_id < {PQ_K}),
{p}dist1 AS (
  SELECT q.vec_id, q.s, {p}c0.cid,
         round({_PQD2_DUCK.format(a="q.sv", b=prefix + "c0.cv")}, 4) AS dd
  FROM {p}subs q JOIN {p}c0 ON q.s = {p}c0.s
),
{p}a1 AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dd, cid) AS rn
    FROM {p}dist1
  ) WHERE rn = 1
),
{p}m1 AS (
  SELECT {p}a1.s, {p}a1.cid, i, round(avg({p}subs.sv[i]), 4) AS m
  FROM {p}a1 JOIN {p}subs ON {p}a1.vec_id = {p}subs.vec_id
                         AND {p}a1.s = {p}subs.s,
       UNNEST(generate_series(1, {PQ_SUBDIM})) AS gi(i)
  GROUP BY {p}a1.s, {p}a1.cid, i
),
{p}c1 AS (SELECT s, cid, list(m ORDER BY i) AS cv
          FROM {p}m1 GROUP BY s, cid),
{p}codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT q.vec_id, q.s, {p}c1.cid,
           row_number() OVER (PARTITION BY q.vec_id, q.s
               ORDER BY round({_PQD2_DUCK.format(a="q.sv", b=prefix + "c1.cv")}, 4),
                        {p}c1.cid) AS rn
    FROM {p}subs q JOIN {p}c1 ON q.s = {p}c1.s
  ) WHERE rn = 1
),
{p}lut AS (
  SELECT q.vec_id AS qid, q.s, {p}c1.cid,
         round({_PQD2_DUCK.format(a="q.sv", b=prefix + "c1.cv")}, 4) AS dd
  FROM {p}subs q JOIN {p}c1 ON q.s = {p}c1.s
  WHERE q.vec_id < {PQ_NQ}
)"""


def _ivfpq_ctes(nprobe: int | None = None) -> str:
    """All IVF-PQ CTEs up to ``ranked`` (the full ADC candidate
    ranking) — shared by the search query and the recall evaluation.
    ``nprobe`` defaults to the registered IVF_NPROBE; the recall
    curve passes other values."""
    from .similarity import IVF_NPROBE, _KMEANS_CTES, _duck_kmeans_round

    if nprobe is None:
        nprobe = IVF_NPROBE
    return f"""{_KMEANS_CTES},
{_duck_kmeans_round(3, "c2")},
qprobe AS (
  SELECT vec_id AS qid, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
    FROM dist3 WHERE vec_id < {PQ_NQ}
  ) WHERE rn <= {nprobe}
),
{_pq_duck_ctes("p")},
pair AS (
  SELECT lut.qid, codes.vec_id AS nid, lut.s, lut.dd
  FROM pcodes codes
  JOIN a3 cell ON cell.vec_id = codes.vec_id
  JOIN qprobe ON qprobe.cid = cell.cid
  JOIN plut lut ON lut.qid = qprobe.qid
               AND lut.s = codes.s AND lut.cid = codes.cid
  WHERE codes.vec_id <> qprobe.qid
),
parts AS (
  SELECT qid, nid,
         {_ADC_CASES_SQL}
  FROM pair GROUP BY qid, nid
),
adc AS (
  SELECT qid AS query_id, nid AS neighbor_id,
         round({_ADC_TERMS}, 4) AS adc_d2
  FROM parts
),
ranked AS (
  SELECT query_id, neighbor_id, adc_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d2, neighbor_id) AS rnk
  FROM adc
)"""


def _ivfpq_duck() -> str:
    return f"""
WITH {_ivfpq_ctes()}
SELECT query_id, rnk, neighbor_id, adc_d2
FROM ranked WHERE rnk <= {PQ_TOPK}
ORDER BY query_id, rnk
"""


def _ivfpq_ranked(
    spark: SparkSession, sf_dir: str, nprobe: int | None = None
) -> DataFrame:
    """The full ADC candidate ranking (query_id, neighbor_id, adc_d2,
    rnk) — everything in `ivf_pq_topk` before the top-k filter; the
    recall evaluation reads deeper ranks than the search tail keeps.
    ``nprobe`` defaults to the registered IVF_NPROBE; the recall-vs-
    cost sweep (scripts/pq_recall_sweep.py) passes other values."""
    from .similarity import IVF_NPROBE, _kmeans_rank, _train_kmeans

    from ..io import load_table
    from pyspark.sql import Window

    if nprobe is None:
        nprobe = IVF_NPROBE
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"),
    )
    # -- coarse quantizer: 2 trained rounds + final assignment/probe
    cents, _ = _train_kmeans(vecs)
    ranked_cells = _kmeans_rank(vecs, cents)
    cells = ranked_cells.where(F.col("rn") == 1).select("vec_id", "cid")
    qprobe = ranked_cells.where(
        (F.col("rn") <= nprobe) & (F.col("vec_id") < PQ_NQ)
    ).select(F.col("vec_id").alias("qid"), "cid")

    # -- PQ codebooks + codes + per-query LUTs (same pipeline as
    #    pq_adc_topk)
    subs = _pq_subvectors(vecs)
    c0 = subs.where(F.col("vec_id") < PQ_K).select(
        "s", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    a1 = _pq_assign(subs, c0)
    m1 = (
        a1.join(subs, ["vec_id", "s"])
        .select("s", "cid", F.posexplode("sv").alias("i0", "x"))
        .groupBy("s", "cid", "i0")
        .agg(F.round(F.avg("x"), 4).alias("m"))
    )
    c1 = m1.groupBy("s", "cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i0, m))), e -> e.m)"
        ).alias("cv")
    )
    codes = _pq_assign(subs, c1)
    lut = (
        subs.where(F.col("vec_id") < PQ_NQ)
        .join(F.broadcast(c1), "s")
        .select(
            F.col("vec_id").alias("qid"),
            "s",
            "cid",
            F.round(F.expr(_PQD2_SPARK.format(a="sv", b="cv")), 4).alias("dd"),
        )
    )

    # -- candidate pruning: codes of vectors in the probed cells only
    #    (rename to keep the PQ code id distinct from the coarse cell id)
    pair = (
        codes.withColumnRenamed("cid", "code")
        .join(cells.withColumnRenamed("cid", "cell"), "vec_id")
        .join(F.broadcast(qprobe.withColumnRenamed("cid", "cell")), "cell")
        .where(F.col("vec_id") != F.col("qid"))
        .join(
            F.broadcast(
                lut.withColumnRenamed("cid", "code").select(
                    "qid", "s", "code", "dd"
                )
            ),
            ["qid", "s", "code"],
        )
    )
    parts = pair.groupBy("qid", "vec_id").agg(
        *[
            F.sum(F.when(F.col("s") == s, F.col("dd"))).alias(f"d{s}")
            for s in range(1, PQ_M + 1)
        ]
    )
    adc = parts.select(
        F.col("qid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.round(F.expr(_ADC_TERMS), 4).alias("adc_d2"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return adc.withColumn("rnk", F.row_number().over(w))


@register("ivf_pq_topk", _ivfpq_duck(), headline=False,
          tags=("similarity", "retrieval"))
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (the FAISS IVFPQ composition, non-residual variant):
    coarse k-means cells prune the candidate set to each query's
    nprobe nearest cells (`ann_ivf_kmeans_topk`'s trained quantizer,
    identical rounds), and candidates are scored by PQ-ADC lookup-table
    sums (`pq_adc_topk`'s codebooks) instead of full-vector math — the
    cell pruning bounds WORK, the codes bound MEMORY. Non-residual:
    codes quantize the raw vectors, not (v - centroid) residuals; the
    residual refinement halves quantization error at the cost of
    per-cell codebooks and is the documented production extension.

    Scale notes (100 TB): per query the plan touches nprobe cells'
    code postings only — never the corpus — and every trained table
    (coarse centroids, PQ codebooks, per-query LUT) is bounded and
    broadcast. The code postings table is PQ_M bytes/vector,
    cid-partitioned on disk in the materialized form
    (`write_ann_index` + codes column), so a 100 TB corpus's search
    tier fits ~400 GB of RAM across executors. The one shuffle is the
    (query, neighbor) ADC group-by, bounded by nprobe cell sizes."""
    return (
        _ivfpq_ranked(spark, sf_dir)
        .where(F.col("rnk") <= PQ_TOPK)
        .select("query_id", "rnk", "neighbor_id", "adc_d2")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# retrieval-quality evaluation: recall@k and MRR of IVF-PQ vs exact
# ---------------------------------------------------------------------------


def _recall_duck() -> str:
    from .similarity import _D2_DUCK

    d2 = D.sub_checked(_D2_DUCK, ("vv", "q.v"), ("cv", "c.v"))
    return f"""
WITH {_ivfpq_ctes()},
exact AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid,
         round({d2}, 4) AS dd
  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {PQ_NQ}
),
exact_rank AS (
  SELECT qid, nid,
         row_number() OVER (PARTITION BY qid ORDER BY dd, nid) AS ern
  FROM exact
),
truth AS (SELECT qid, nid FROM exact_rank WHERE ern <= {PQ_TOPK}),
hits AS (
  SELECT t.qid, count(r.neighbor_id) AS n_hit
  FROM truth t LEFT JOIN ranked r
    ON r.query_id = t.qid AND r.neighbor_id = t.nid AND r.rnk <= {PQ_TOPK}
  GROUP BY t.qid
),
nn AS (SELECT qid, nid FROM exact_rank WHERE ern = 1),
rr AS (
  SELECT nn.qid,
         coalesce(max(cast(1 AS DOUBLE) / r.rnk), cast(0 AS DOUBLE)) AS rrv
  FROM nn LEFT JOIN ranked r
    ON r.query_id = nn.qid AND r.neighbor_id = nn.nid
  GROUP BY nn.qid
)
SELECT h.qid AS query_id, cast(h.n_hit AS BIGINT) AS n_hit,
       round(cast(h.n_hit AS DOUBLE) / {PQ_TOPK}, 4) AS recall_at_k,
       round(rr.rrv, 4) AS reciprocal_rank
FROM hits h JOIN rr ON h.qid = rr.qid
ORDER BY query_id
"""


@register("ann_recall_eval", _recall_duck(), tags=("similarity", "retrieval"))
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation as a first-class QUERY: recall@{k}
    and reciprocal rank of the IVF-PQ search against the exact
    squared-L2 ground truth, per query vector — the recall ladder
    PERF.md records from scripts, now oracle-gated and
    driver-visible. n_hit counts ground-truth top-{k} neighbors the
    approximate search returned in ITS top-{k}; reciprocal_rank is
    1/rank of the TRUE nearest neighbor in the full ADC candidate
    ranking (0 when cell pruning dropped it entirely — the honest
    failure mode of nprobe too low).

    Scale notes (100 TB): the exact arm is O(queries x corpus) BY
    DESIGN — it is the evaluation label, never the serving path, and
    the query set is a bounded sample (the same labeled-baseline
    precedent as `ann_bruteforce`). Production runs this nightly on a
    fixed query panel to alarm on recall regressions after index
    merges (`update_ann_index`)."""
    from .similarity import _D2_SPARK

    from ..io import load_table
    from pyspark.sql import Window

    ranked = _ivfpq_ranked(spark, sf_dir).localCheckpoint(eager=False)
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"),
    )
    q = vecs.where(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v")
    )
    c = vecs.select(F.col("vec_id").alias("nid"), F.col("v").alias("cv"))
    exact = (
        F.broadcast(q)
        .join(c, F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            F.round(F.expr(_D2_SPARK), 4).alias("dd"),
        )
    )
    wq = Window.partitionBy("qid").orderBy("dd", "nid")
    exact_rank = exact.withColumn("ern", F.row_number().over(wq))
    truth = exact_rank.where(F.col("ern") <= PQ_TOPK).select("qid", "nid")
    hits = (
        truth.join(
            ranked.where(F.col("rnk") <= PQ_TOPK).select(
                F.col("query_id").alias("qid"),
                F.col("neighbor_id").alias("nid"),
                F.lit(1).alias("hit"),
            ),
            ["qid", "nid"],
            "left",
        )
        .groupBy("qid")
        .agg(F.count("hit").alias("n_hit"))
    )
    nn = exact_rank.where(F.col("ern") == 1).select("qid", "nid")
    rr = (
        nn.join(
            ranked.select(
                F.col("query_id").alias("qid"),
                F.col("neighbor_id").alias("nid"),
                "rnk",
            ),
            ["qid", "nid"],
            "left",
        )
        .groupBy("qid")
        .agg(
            F.coalesce(
                F.max(F.lit(1).cast("double") / F.col("rnk")),
                F.lit(0).cast("double"),
            ).alias("rrv")
        )
    )
    return (
        hits.join(rr, "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.round(F.col("n_hit").cast("double") / PQ_TOPK, 4).alias(
                "recall_at_k"
            ),
            F.round("rrv", 4).alias("reciprocal_rank"),
        )
        .orderBy("query_id")
    )
format_doc(ann_recall_eval, k=PQ_TOPK)


# ---------------------------------------------------------------------------
# residual IVF-PQ: PQ codebooks trained on (v - cell centroid) residuals
# ---------------------------------------------------------------------------


def _residual_ivfpq_duck() -> str:
    from .similarity import _KMEANS_CTES, _duck_kmeans_round, IVF_NPROBE

    sub16 = (
        f"list_transform(generate_series(1, {PQ_SUBDIM}), "
        f"i -> vecs.v[(s - 1) * {PQ_SUBDIM} + i] "
        f"- c2.cv[(s - 1) * {PQ_SUBDIM} + i])"
    )
    return f"""
WITH {_KMEANS_CTES},
{_duck_kmeans_round(3, "c2")},
qprobe AS (
  SELECT vec_id AS qid, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
    FROM dist3 WHERE vec_id < {PQ_NQ}
  ) WHERE rn <= {IVF_NPROBE}
),
rvecs AS (
  SELECT vecs.vec_id,
         list_transform(generate_series(1, {PQ_M * PQ_SUBDIM}),
                        i -> vecs.v[i] - c2.cv[i]) AS v
  FROM vecs JOIN a3 ON vecs.vec_id = a3.vec_id
       JOIN c2 ON a3.cid = c2.cid
),
{_pq_duck_ctes("r", src="rvecs")},
qres AS (
  SELECT qp.qid, qp.cid AS cell, s, {sub16} AS sv
  FROM qprobe qp
  JOIN vecs ON vecs.vec_id = qp.qid
  JOIN c2 ON c2.cid = qp.cid,
       UNNEST(generate_series(1, {PQ_M})) AS g(s)
),
rlut2 AS (
  SELECT q.qid, q.cell, q.s, rc1.cid,
         round({_PQD2_DUCK.format(a="q.sv", b="rc1.cv")}, 4) AS dd
  FROM qres q JOIN rc1 ON q.s = rc1.s
),
pair AS (
  SELECT rlut2.qid, rcodes.vec_id AS nid, rlut2.s, rlut2.dd
  FROM rcodes
  JOIN a3 cell ON cell.vec_id = rcodes.vec_id
  JOIN rlut2 ON rlut2.cell = cell.cid
            AND rlut2.s = rcodes.s AND rlut2.cid = rcodes.cid
  WHERE rcodes.vec_id <> rlut2.qid
),
parts AS (
  SELECT qid, nid,
         {_ADC_CASES_SQL}
  FROM pair GROUP BY qid, nid
),
adc AS (
  SELECT qid AS query_id, nid AS neighbor_id,
         round({_ADC_TERMS}, 4) AS adc_d2
  FROM parts
),
ranked AS (
  SELECT query_id, neighbor_id, adc_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d2, neighbor_id) AS rnk
  FROM adc
)
SELECT query_id, rnk, neighbor_id, adc_d2
FROM ranked WHERE rnk <= {PQ_TOPK}
ORDER BY query_id, rnk
"""


@register("residual_ivf_pq_topk", _residual_ivfpq_duck(),
          tags=("similarity", "retrieval"))
def residual_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (full FAISS IVFPQ): PQ codebooks are trained on
    the RESIDUALS (v - assigned cell centroid) instead of raw vectors
    — when the corpus has real cluster structure, residual magnitudes
    are much smaller than vector magnitudes and the same codebook
    budget quantizes them with roughly half the error (the
    `ivf_pq_topk` docstring's documented extension, now implemented).
    MEASURED HONESTLY (scripts/pq_recall_compare.py): on THIS fixture
    the embeddings are near-uniform — the 8 coarse cells barely
    shrink residual norms — so residual recall@5 (0.08 at sf0.1)
    actually trails the non-residual variant (0.20); the refinement
    pays off only where the clustering does. The operator exists to
    prove the plan shape; the variant choice is a data-dependent
    deployment decision. The query-side LUT becomes cell-dependent: for each
    probed cell the query's residual against THAT cell's centroid is
    quantized, so the LUT is (query x nprobe x M x K) — still bounded
    and broadcast.

    Scale notes (100 TB): identical plan skeleton to `ivf_pq_topk`
    (cell-pruned code postings, all trained tables broadcast); the
    only extra work is the nprobe-times-larger LUT, still O(queries x
    nprobe x M x K) — nothing corpus-sized changed. The residual
    subtraction is one broadcast join against the K-row centroid
    table at encode time."""
    from .similarity import IVF_NPROBE, _kmeans_rank, _train_kmeans

    from ..io import load_table
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"),
    )
    cents, _ = _train_kmeans(vecs)
    cents = F.broadcast(cents)
    ranked_cells = _kmeans_rank(vecs, cents)
    cells = ranked_cells.where(F.col("rn") == 1).select("vec_id", "cid")
    qprobe = ranked_cells.where(
        (F.col("rn") <= IVF_NPROBE) & (F.col("vec_id") < PQ_NQ)
    ).select(F.col("vec_id").alias("qid"), "cid")

    # residual encode: v - centroid(assigned cell)
    rvecs = (
        vecs.join(cells, "vec_id")
        .join(cents, "cid")
        .select(
            "vec_id",
            F.expr("zip_with(v, cv, (x, y) -> x - y)").alias("v"),
        )
    )
    rsubs = _pq_subvectors(rvecs)
    rc0 = rsubs.where(F.col("vec_id") < PQ_K).select(
        "s", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    ra1 = _pq_assign(rsubs, rc0)
    rm1 = (
        ra1.join(rsubs, ["vec_id", "s"])
        .select("s", "cid", F.posexplode("sv").alias("i0", "x"))
        .groupBy("s", "cid", "i0")
        .agg(F.round(F.avg("x"), 4).alias("m"))
    )
    rc1 = rm1.groupBy("s", "cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i0, m))), e -> e.m)"
        ).alias("cv")
    )
    rcodes = _pq_assign(rsubs, rc1)

    # cell-dependent query residual subvectors -> LUT
    qres = (
        qprobe.withColumnRenamed("cid", "cell")
        .join(vecs.select(F.col("vec_id").alias("qid"), "v"), "qid")
        .join(
            cents.select(F.col("cid").alias("cell"), "cv"), "cell"
        )
        .select(
            "qid",
            "cell",
            F.expr("zip_with(v, cv, (x, y) -> x - y)").alias("v"),
        )
    )
    # subvectors at the (qid, cell) grain — _pq_subvectors keys by
    # vec_id only, so rebuild the explode inline with both keys kept
    parts_q = F.array(
        *[
            F.struct(
                F.lit(sub + 1).alias("s"),
                F.slice("v", sub * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
            )
            for sub in range(PQ_M)
        ]
    )
    qres_subs = qres.select(
        "qid", "cell", F.explode(parts_q).alias("e")
    ).select("qid", "cell", "e.s", "e.sv")
    rlut = qres_subs.join(F.broadcast(rc1), "s").select(
        "qid",
        "cell",
        "s",
        F.col("cid").alias("code"),
        F.round(F.expr(_PQD2_SPARK.format(a="sv", b="cv")), 4).alias("dd"),
    )

    pair = (
        rcodes.withColumnRenamed("cid", "code")
        .join(cells.withColumnRenamed("cid", "cell"), "vec_id")
        .join(F.broadcast(rlut), ["cell", "s", "code"])
        .where(F.col("vec_id") != F.col("qid"))
    )
    parts = pair.groupBy("qid", "vec_id").agg(
        *[
            F.sum(F.when(F.col("s") == s, F.col("dd"))).alias(f"d{s}")
            for s in range(1, PQ_M + 1)
        ]
    )
    adc = parts.select(
        F.col("qid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.round(F.expr(_ADC_TERMS), 4).alias("adc_d2"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= PQ_TOPK)
        .select("query_id", "rnk", "neighbor_id", "adc_d2")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# PQ re-ranking tail: ADC shortlist -> exact-distance refinement
# ---------------------------------------------------------------------------

#: ADC candidates kept for exact refinement — the FAISS ``refine``
#: convention of k' = 10x the final k (IVFPQR / IndexRefineFlat).
RERANK_SHORTLIST = 50

#: The MEASURED deployment operating point (scripts/pq_recall_sweep.py;
#: PERF.md sweep table): shortlist depth is the dominant recall knob,
#: nprobe the expensive one — nprobe=1/shortlist=200 reaches
#: recall@5 >= 0.8 at the MINIMUM ADC candidate cost on the sweep
#: grid (2,460 scored rows vs 4,917 at the FAISS-default point, which
#: measures 0.60). `pq_rerank_tuned` ships this point;
#: `pq_rerank_tuned_recall` pins the >= 0.8 contract.
TUNED_NPROBE = 1
TUNED_SHORTLIST = 200


def _rerank_duck(
    nprobe: int | None = None, shortlist: int = RERANK_SHORTLIST
) -> str:
    from .similarity import _D2_DUCK

    d2 = D.sub_checked(_D2_DUCK, ("vv", "q.v"), ("cv", "c.v"))
    return f"""
WITH {_ivfpq_ctes(nprobe)},
short AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rnk <= {shortlist}
),
rer AS (
  SELECT s.query_id, s.neighbor_id, round({d2}, 4) AS exact_d2
  FROM short s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id
),
rr AS (
  SELECT query_id, neighbor_id, exact_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY exact_d2, neighbor_id) AS rnk
  FROM rer
)
SELECT query_id, rnk, neighbor_id, exact_d2
FROM rr WHERE rnk <= {PQ_TOPK}
ORDER BY query_id, rnk
"""


def _reranked(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
    shortlist: int = RERANK_SHORTLIST,
) -> DataFrame:
    """(query_id, neighbor_id, exact_d2, rnk): the IVF-PQ ADC shortlist
    re-ranked by exact full-vector squared L2 — shared by the search
    query and its recall evaluation. ``nprobe``/``shortlist`` default
    to the registered operating point; scripts/pq_recall_sweep.py
    sweeps them for the deployment curve."""
    from .similarity import _D2_SPARK

    from ..io import load_table
    from pyspark.sql import Window

    short = (
        _ivfpq_ranked(spark, sf_dir, nprobe=nprobe)
        .where(F.col("rnk") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"),
    )
    # the shortlist is (queries x shortlist) rows — bounded, broadcast
    # into the corpus scan so only shortlisted full vectors are read
    rer = (
        vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
        .join(F.broadcast(short), "neighbor_id")
        .join(
            F.broadcast(
                vecs.where(F.col("vec_id") < PQ_NQ).select(
                    F.col("vec_id").alias("query_id"), "v"
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(_D2_SPARK), 4).alias("exact_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("exact_d2", "neighbor_id")
    return rer.withColumn("rnk", F.row_number().over(w))


@register("pq_rerank_topk", _rerank_duck(), headline=False,
          tags=("similarity", "retrieval"))
def pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _reranked(spark, sf_dir)
        .where(F.col("rnk") <= PQ_TOPK)
        .select("query_id", "rnk", "neighbor_id", "exact_d2")
        .orderBy("query_id", "rnk")
    )
pq_rerank_topk.__doc__ = """IVF-PQ search with an exact re-ranking tail (the standard FAISS
    deployment pattern, IndexRefineFlat / IVFPQR): the ADC ranking
    keeps a {s}-candidate shortlist per query (10x the final k), the
    shortlist joins back to the FULL vectors, and the final top-{k} is
    ranked by exact squared L2 — closing the honest recall gap the
    round-6 measurements documented (ADC-only recall@5 0.08-0.24 vs
    IVF-full-vector 0.86 on this near-uniform fixture): compression
    decides what you SCAN, refinement decides what you RETURN.

    Scale notes (100 TB): the expensive arm (ADC over nprobe cells'
    byte codes) is unchanged; the refinement reads only queries x {s}
    full vectors — a broadcast-shortlist semi-join into the vector
    table (id-pruned point reads against the cid-partitioned postings
    in the materialized form), never a corpus scan. Exactly the
    memory/recall trade FAISS ships: codes in RAM, full vectors on
    flash, touched {s} rows per query.""".format(
        s=RERANK_SHORTLIST, k=PQ_TOPK
    )


def _rerank_recall_duck(
    nprobe: int | None = None, shortlist: int = RERANK_SHORTLIST
) -> str:
    from .similarity import _D2_DUCK

    d2s = D.sub_checked(_D2_DUCK, ("vv", "q.v"), ("cv", "c.v"))
    return f"""
WITH {_ivfpq_ctes(nprobe)},
short AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rnk <= {shortlist}
),
rer AS (
  SELECT s.query_id, s.neighbor_id, round({d2s}, 4) AS exact_d2
  FROM short s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id
),
rr AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY exact_d2, neighbor_id) AS rnk
  FROM rer
),
exact AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid, round({d2s}, 4) AS dd
  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {PQ_NQ}
),
exact_rank AS (
  SELECT qid, nid,
         row_number() OVER (PARTITION BY qid ORDER BY dd, nid) AS ern
  FROM exact
),
truth AS (SELECT qid, nid FROM exact_rank WHERE ern <= {PQ_TOPK}),
hits AS (
  SELECT t.qid, count(r.neighbor_id) AS n_hit
  FROM truth t LEFT JOIN rr r
    ON r.query_id = t.qid AND r.neighbor_id = t.nid AND r.rnk <= {PQ_TOPK}
  GROUP BY t.qid
)
SELECT qid AS query_id, cast(n_hit AS BIGINT) AS n_hit,
       round(cast(n_hit AS DOUBLE) / {PQ_TOPK}, 4) AS recall_at_k
FROM hits ORDER BY query_id
"""


@register("pq_rerank_recall", _rerank_recall_duck(),
          tags=("similarity", "retrieval"))
def pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rerank_recall_frame(spark, sf_dir)
pq_rerank_recall.__doc__ = """`ann_recall_eval` extended to the re-ranked path: recall@{k} of
    `pq_rerank_topk` against the exact ground truth, per query. Because
    the refinement ranks the shortlist by EXACT distance, any remaining
    recall loss isolates the candidate-generation stages (cell pruning
    + ADC shortlist order) — the number a deployment tunes nprobe and
    shortlist size against.

    Scale notes (100 TB): the exact arm is the bounded evaluation panel
    (`ann_recall_eval`'s precedent); the production arm adds only the
    queries x {s} refinement reads.""".format(
        k=PQ_TOPK, s=RERANK_SHORTLIST
    )


def _rerank_recall_frame(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
    shortlist: int = RERANK_SHORTLIST,
) -> DataFrame:
    """Per-query recall@k of the re-ranked path at a given
    (nprobe, shortlist) against the exact ground truth — shared by
    `pq_rerank_recall` (FAISS-default point) and
    `pq_rerank_tuned_recall` (measured deployment point)."""
    from .similarity import _D2_SPARK

    from ..io import load_table
    from pyspark.sql import Window

    rr = _reranked(
        spark, sf_dir, nprobe=nprobe, shortlist=shortlist
    ).localCheckpoint(eager=False)
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"),
    )
    q = vecs.where(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v")
    )
    c = vecs.select(F.col("vec_id").alias("nid"), F.col("v").alias("cv"))
    exact = (
        F.broadcast(q)
        .join(c, F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round(F.expr(_D2_SPARK), 4).alias("dd"))
    )
    wq = Window.partitionBy("qid").orderBy("dd", "nid")
    truth = (
        exact.withColumn("ern", F.row_number().over(wq))
        .where(F.col("ern") <= PQ_TOPK)
        .select("qid", "nid")
    )
    hits = (
        truth.join(
            rr.where(F.col("rnk") <= PQ_TOPK).select(
                F.col("query_id").alias("qid"),
                F.col("neighbor_id").alias("nid"),
                F.lit(1).alias("hit"),
            ),
            ["qid", "nid"],
            "left",
        )
        .groupBy("qid")
        .agg(F.count("hit").alias("n_hit"))
    )
    return hits.select(
        F.col("qid").alias("query_id"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        F.round(F.col("n_hit").cast("double") / PQ_TOPK, 4).alias(
            "recall_at_k"
        ),
    ).orderBy("query_id")


@register("pq_rerank_tuned", _rerank_duck(TUNED_NPROBE, TUNED_SHORTLIST),
          headline=False, tags=("similarity", "retrieval"))
def pq_rerank_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _reranked(
            spark, sf_dir, nprobe=TUNED_NPROBE, shortlist=TUNED_SHORTLIST
        )
        .where(F.col("rnk") <= PQ_TOPK)
        .select("query_id", "rnk", "neighbor_id", "exact_d2")
        .orderBy("query_id", "rnk")
    )
pq_rerank_tuned.__doc__ = """`pq_rerank_topk` at the MEASURED deployment operating point
    (nprobe={np}, shortlist={s}) instead of the FAISS textbook default:
    the (nprobe, shortlist) sweep (scripts/pq_recall_sweep.py; PERF.md
    curve) showed shortlist depth — not cell fan-out — buys back the
    recall the noisy 12-bit ADC ordering loses, so this point reaches
    recall@{k} >= 0.8 while ADC-scoring HALF the candidate rows of the
    default point (which measures 0.60). `pq_rerank_tuned_recall` pins
    the contract.

    Scale notes (100 TB): strictly cheaper than `pq_rerank_topk` on
    the scan side (one probed cell per query); the refinement arm
    reads queries x {s} full vectors — still id-pruned point reads
    against the materialized postings, never a corpus scan. The sweep
    generalizes: re-derive the curve from `pq_rerank_recall` on the
    production index, then ship the cheapest >= target point.""".format(
        np=TUNED_NPROBE, s=TUNED_SHORTLIST, k=PQ_TOPK
    )


@register("pq_rerank_tuned_recall",
          _rerank_recall_duck(TUNED_NPROBE, TUNED_SHORTLIST),
          tags=("similarity", "retrieval"))
def pq_rerank_tuned_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rerank_recall_frame(
        spark, sf_dir, nprobe=TUNED_NPROBE, shortlist=TUNED_SHORTLIST
    )
pq_rerank_tuned_recall.__doc__ = """Recall@{k} of `pq_rerank_tuned` against the exact ground truth,
    per query — the published operating point's contract, driver-
    hashable. tests/test_retrieval_contract.py asserts mean recall
    >= 0.8 at the sweep's sf0.1 measurement scale.""".format(k=PQ_TOPK)


# ---------------------------------------------------------------------------
# MMR diversified top-k: greedy re-ranking as unrolled relational rounds
# ---------------------------------------------------------------------------

#: MMR parameters: relevance weight, picks, and the candidate
#: shortlist the greedy loop runs over (the production pattern:
#: diversify a cheap top-N, never the corpus).
MMR_LAMBDA_NUM = 7  # lambda = 7/10 as an exact integer ratio
MMR_LAMBDA_DEN = 10
MMR_K = 5
MMR_SHORT = 20


def _mmr_duck() -> str:
    from .similarity import _COS_DUCK, _DUCK_VECTORS, N_QUERIES

    ln, lo = MMR_LAMBDA_NUM, MMR_LAMBDA_DEN - MMR_LAMBDA_NUM
    parts = [f"""{_DUCK_VECTORS},
scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid,
         cast(round(({_COS_DUCK}) * 10000) AS BIGINT) AS cs_u
  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
short AS (
  SELECT qid, nid, cs_u FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY cs_u DESC, nid) AS rnk
    FROM scored) WHERE rnk <= {MMR_SHORT}
),
sims AS (
  SELECT s1.qid, s1.nid AS na, s2.nid AS nb,
         cast(round(list_dot_product(v1.v, v2.v)
                    / (v1.norm * v2.norm) * 10000) AS BIGINT) AS sim_u
  FROM short s1
  JOIN short s2 ON s1.qid = s2.qid AND s1.nid <> s2.nid
  JOIN vecs v1 ON v1.vec_id = s1.nid
  JOIN vecs v2 ON v2.vec_id = s2.nid
),
pick1 AS (
  SELECT qid, nid, cs_u, 1 AS pick,
         cast(cs_u * {MMR_LAMBDA_DEN} AS BIGINT) AS score_u
  FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY cs_u DESC, nid) AS rn
    FROM short) WHERE rn = 1
),
selall1 AS (SELECT qid, nid FROM pick1)"""]
    for r in range(2, MMR_K + 1):
        parts.append(f""",
cand{r} AS (
  SELECT s.qid, s.nid, s.cs_u
  FROM short s LEFT JOIN selall{r - 1} x
    ON s.qid = x.qid AND s.nid = x.nid
  WHERE x.nid IS NULL
),
mx{r} AS (
  SELECT c.qid, c.nid, c.cs_u, max(m.sim_u) AS ms_u
  FROM cand{r} c
  JOIN sims m ON m.qid = c.qid AND m.na = c.nid
  JOIN selall{r - 1} x ON x.qid = m.qid AND x.nid = m.nb
  GROUP BY c.qid, c.nid, c.cs_u
),
pick{r} AS (
  SELECT qid, nid, cs_u, {r} AS pick,
         cast({ln} * cs_u - {lo} * ms_u AS BIGINT) AS score_u
  FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY {ln} * cs_u - {lo} * ms_u DESC, nid) AS rn
    FROM mx{r}) WHERE rn = 1
),
selall{r} AS (
  SELECT qid, nid FROM selall{r - 1}
  UNION ALL SELECT qid, nid FROM pick{r}
)""")
    sel = (
        "SELECT qid, nid, cast(cs_u AS DOUBLE) / 10000 AS rel, pick, "
        f"cast(score_u AS DOUBLE) / {10000 * MMR_LAMBDA_DEN} AS mmr_score "
        "FROM pick{r}"
    )
    union = "\nUNION ALL ".join(
        sel.format(r=r) for r in range(1, MMR_K + 1)
    )
    return "WITH " + "".join(parts) + f"\n{union}\nORDER BY qid, pick"


@register(
    "mmr_diverse_topk",
    _mmr_duck(),
    headline=True,
    tags=("retrieval", "similarity"),
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .similarity import _DOT, _vectors, N_QUERIES

    ln, lo = MMR_LAMBDA_NUM, MMR_LAMBDA_DEN - MMR_LAMBDA_NUM
    vecs = _vectors(spark, sf_dir)
    q = vecs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    c = vecs.select(
        F.col("vec_id").alias("nid"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    cs_u = F.expr(
        f"cast(round(({_DOT.format(a='qv', b='cv')})"
        " / (qnorm * cnorm) * 10000) AS BIGINT)"
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("cs_u"), "nid")
    short = (
        F.broadcast(q)
        .join(c, F.col("nid") != F.col("qid"))
        .select("qid", "nid", cs_u.alias("cs_u"))
        .withColumn("rnk", F.row_number().over(wq))
        .where(F.col("rnk") <= MMR_SHORT)
        .drop("rnk")
        .localCheckpoint(eager=False)  # feeds the cogroup AND sims
    )
    v1 = vecs.select(
        F.col("vec_id").alias("na"),
        F.col("v").alias("va"),
        F.col("norm").alias("na_norm"),
    )
    v2 = vecs.select(
        F.col("vec_id").alias("nb"),
        F.col("v").alias("vb"),
        F.col("norm").alias("nb_norm"),
    )
    s1 = short.select("qid", F.col("nid").alias("na"))
    s2 = short.select(F.col("qid").alias("q2"), F.col("nid").alias("nb"))
    sims = (
        s1.join(
            s2,
            (F.col("qid") == F.col("q2")) & (F.col("na") != F.col("nb")),
        )
        .join(v1, "na")
        .join(v2, "nb")
        .select(
            "qid",
            "na",
            "nb",
            F.expr(
                f"cast(round(({_DOT.format(a='va', b='vb')})"
                " / (na_norm * nb_norm) * 10000) AS BIGINT)"
            ).alias("sim_u"),
        )
        # fresh exprIds: sims descends from `short`, and cogrouping a
        # frame with its own descendant trips the ambiguous-self-join
        # analyzer check on the shared qid attribute
        .select(
            F.col("qid").alias("qid"),
            F.col("na").alias("na"),
            F.col("nb").alias("nb"),
            F.col("sim_u").alias("sim_u"),
        )
    )

    def _greedy(key, short_pdf, sims_pdf):
        import numpy as np
        import pandas as pd

        ids = short_pdf["nid"].to_numpy(np.int64)
        cs = short_pdf["cs_u"].to_numpy(np.int64)
        order = np.lexsort((ids, -cs))  # cs desc, nid asc
        ids, cs = ids[order], cs[order]
        n = len(ids)
        pos = {int(i): p for p, i in enumerate(ids)}
        simm = np.zeros((n, n), dtype=np.int64)
        for na, nb, su in sims_pdf[["na", "nb", "sim_u"]].itertuples(
            index=False
        ):
            simm[pos[na], pos[nb]] = su
        picked = [0]  # row 0 IS the (cs desc, nid) argmax
        scores = [int(cs[0]) * MMR_LAMBDA_DEN]
        remaining = np.ones(n, dtype=bool)
        remaining[0] = False
        ms = simm[:, 0].copy()  # running max-sim-to-picked
        sentinel = -(1 << 62)  # |score| <= ~1e6: safely below
        while len(picked) < MMR_K and remaining.any():
            sc = ln * cs - lo * ms
            masked = np.where(remaining, sc, sentinel)
            best = int(np.lexsort((ids, -masked))[0])
            picked.append(best)
            scores.append(int(sc[best]))
            remaining[best] = False
            ms = np.maximum(ms, simm[:, best])
        idx = np.array(picked, dtype=np.int64)
        return pd.DataFrame(
            {
                "qid": np.full(len(idx), key[0], dtype=np.int64),
                "nid": ids[idx],
                "rel": cs[idx].astype(np.float64) / 10000.0,
                "pick": np.arange(1, len(idx) + 1, dtype=np.int32),
                "mmr_score": np.array(scores, dtype=np.float64)
                / (10000.0 * MMR_LAMBDA_DEN),
            }
        )

    return (
        short.groupBy("qid")
        .cogroup(sims.groupBy("qid"))
        .applyInPandas(
            _greedy,
            "qid bigint, nid bigint, rel double, pick int, mmr_score double",
        )
        .orderBy("qid", "pick")
    )
mmr_diverse_topk.__doc__ = """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversification stage between retrieval and a RAG
    prompt: from each query's top-{s} cosine shortlist, greedily pick
    {k} results maximizing lambda*rel - (1-lambda)*max_sim_to_picked
    (lambda = {ln}/{ld} as an exact integer ratio), so near-duplicate
    passages don't crowd out coverage. The greedy loop runs per-query
    LOCAL: shortlist and pairwise-sims cogroup by qid into ONE
    Arrow-batched applyInPandas whose numpy loop does all {k} picks
    in exact int64 — greedy MMR has no cross-query dependency, so an
    unrolled relational form (tried first: {k} rounds of
    anti-join/join/argmax-window) pays {k} cluster-wide barriers and
    ~4 qid-exchanges per round for nothing; the cogroup pays ONE
    qid-exchange per side, total. Bounded memory per group:
    {s} + {s}x{s} int64 rows.

    Determinism: relevance and pairwise cosines quantize ONCE per
    row to BIGINT 1e-4 units JVM-SIDE (the only float math there is);
    every pick's score is then the exact integer {ln}*cs_u -
    {lo_}*ms_u (a weighted difference of 4dp quantities lands on
    5th-decimal midpoints ~10% of the time, where the engines' float
    round() implementations disagree — measured on first contact and
    removed by never rounding a float score at all), argmax
    tie-broken on neighbor id via np.lexsort — Python int64 math and
    DuckDB's unrolled-CTE oracle walk identical greedy paths and the
    output divides exact integers.

    Scale notes (100 TB): everything after the shortlist is bounded —
    {s} rows per query, pairwise sims {s}x{s} per query (computed
    ONCE, JVM-side), and the cogroup streams each query's bundle to
    one Arrow batch. The shortlist arm here is the labeled exact
    baseline (same policy as `ann_bruteforce`); production swaps in
    the IVF/BM25/RRF searchers — MMR composes with ANY of them
    unchanged.""".format(
        s=MMR_SHORT,
        k=MMR_K,
        ln=MMR_LAMBDA_NUM,
        ld=MMR_LAMBDA_DEN,
        lo_=MMR_LAMBDA_DEN - MMR_LAMBDA_NUM,
    )


# ---------------------------------------------------------------------------
# nDCG@10: graded ranking quality of the approximate search
# ---------------------------------------------------------------------------

#: evaluation depth and the graded-relevance ladder (exact rank e ->
#: relevance PQ_TOPK+1-e, i.e. 5..1 for the exact top-5, else 0).
NDCG_AT = 10

#: log2 position discounts in exact integer micro-units, computed ONCE
#: here and embedded as literals in BOTH engines' SQL — no runtime
#: log() can disagree because neither engine ever evaluates one.
import math as _math

_NDCG_DISC = tuple(
    int(round(1_000_000 / _math.log2(p + 1))) for p in range(1, NDCG_AT + 1)
)


def _ndcg_duck() -> str:
    from .similarity import _D2_DUCK

    d2 = D.sub_checked(_D2_DUCK, ("vv", "q.v"), ("cv", "c.v"))
    disc_rows = ", ".join(
        f"({p + 1}, {d})" for p, d in enumerate(_NDCG_DISC)
    )
    idcg = sum(
        (PQ_TOPK - i) * _NDCG_DISC[i] for i in range(PQ_TOPK)
    )
    return f"""
WITH {_ivfpq_ctes()},
disc(p, d) AS (VALUES {disc_rows}),
exact AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid,
         round({d2}, 4) AS dd
  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {PQ_NQ}
),
truth AS (
  SELECT qid, nid, cast({PQ_TOPK} + 1 - ern AS BIGINT) AS rel
  FROM (SELECT qid, nid,
               row_number() OVER (PARTITION BY qid ORDER BY dd, nid)
                 AS ern
        FROM exact)
  WHERE ern <= {PQ_TOPK}
),
gains AS (
  SELECT r.query_id AS qid,
         cast(sum(coalesce(t.rel, 0) * disc.d) AS BIGINT) AS dcg_u
  FROM ranked r
  JOIN disc ON disc.p = r.rnk
  LEFT JOIN truth t ON t.qid = r.query_id AND t.nid = r.neighbor_id
  WHERE r.rnk <= {NDCG_AT}
  GROUP BY r.query_id
),
qs AS (SELECT DISTINCT qid FROM truth)
SELECT qs.qid AS query_id,
       cast(coalesce(g.dcg_u, 0) AS BIGINT) AS dcg_u,
       cast((2 * coalesce(g.dcg_u, 0) * 10000 + {idcg})
            // (2 * {idcg}) AS DOUBLE) / 10000 AS ndcg
FROM qs LEFT JOIN gains g ON g.qid = qs.qid
ORDER BY query_id
"""


@register("ndcg_rank_eval", _ndcg_duck(), tags=("retrieval", "similarity"))
def ndcg_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..io import load_table
    from .similarity import _D2_SPARK

    idcg = sum((PQ_TOPK - i) * _NDCG_DISC[i] for i in range(PQ_TOPK))
    disc = spark.createDataFrame(
        [(p + 1, d) for p, d in enumerate(_NDCG_DISC)], "p INT, d BIGINT"
    )
    ranked = (
        _ivfpq_ranked(spark, sf_dir)
        .where(F.col("rnk") <= NDCG_AT)
        .localCheckpoint(eager=False)
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"),
    )
    q = vecs.where(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v")
    )
    c = vecs.select(F.col("vec_id").alias("nid"), F.col("v").alias("cv"))
    exact = (
        F.broadcast(q)
        .join(c, F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round(F.expr(_D2_SPARK), 4).alias("dd"))
    )
    wq = Window.partitionBy("qid").orderBy("dd", "nid")
    truth = (
        exact.withColumn("ern", F.row_number().over(wq))
        .where(F.col("ern") <= PQ_TOPK)
        .select(
            "qid",
            "nid",
            (PQ_TOPK + 1 - F.col("ern")).cast("bigint").alias("rel"),
        )
        .localCheckpoint(eager=False)
    )
    gains = (
        ranked.join(F.broadcast(disc), F.col("p") == F.col("rnk"))
        .join(
            truth.withColumnRenamed("qid", "tq").withColumnRenamed(
                "nid", "tn"
            ),
            (F.col("tq") == F.col("query_id"))
            & (F.col("tn") == F.col("neighbor_id")),
            "left",
        )
        .groupBy(F.col("query_id").alias("qid"))
        .agg(
            F.sum(F.coalesce(F.col("rel"), F.lit(0)) * F.col("d"))
            .cast("bigint")
            .alias("dcg_u")
        )
    )
    return (
        truth.select("qid")
        .distinct()
        .join(gains, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce("dcg_u", F.lit(0)).cast("bigint").alias("dcg_u"),
            (
                F.expr(
                    f"cast((2 * coalesce(dcg_u, 0) * 10000 + {idcg}) "
                    f"div (2 * {idcg}) AS DOUBLE)"
                )
                / 10000
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )
ndcg_rank_eval.__doc__ = """nDCG@{at} of the IVF-PQ ranking against graded exact-L2
    relevance (exact rank e in the top-{k} earns relevance {k}+1-e) —
    the position-sensitive complement to `ann_recall_eval`'s recall
    and MRR: recall cannot see WHERE in the list the right answers
    sit; nDCG discounts each hit by log2(position+1) (Jarvelin &
    Kekalainen 2002).

    Determinism: the discount table is computed ONCE in Python as
    integer micro-units and embedded as LITERALS in both engines'
    plans — no runtime log() exists to disagree; gains and the ideal
    DCG are exact integers, and the single normalization is the
    integer half-up 4-dp division. Scale notes: the expensive arm is
    the same labeled exact baseline as `ann_recall_eval` (bounded
    query panel BY DESIGN); the graded join touches only
    {at} x queries ranked rows.""".format(at=NDCG_AT, k=PQ_TOPK)


# ---------------------------------------------------------------------------
# nprobe recall curve: the deployment tuning table, driver-gated
# ---------------------------------------------------------------------------

#: probe budgets swept by the registered curve (8 cells total; 4 = half)
_CURVE_NPROBES = (1, 2, 4)


def _nprobe_curve_arm(np: int) -> str:
    from .similarity import _D2_DUCK

    d2s = D.sub_checked(_D2_DUCK, ("vv", "q.v"), ("cv", "c.v"))
    denom = PQ_NQ * PQ_TOPK
    return f"""
(WITH {_ivfpq_ctes(np)},
short AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rnk <= {RERANK_SHORTLIST}
),
rer AS (
  SELECT s.query_id, s.neighbor_id, round({d2s}, 4) AS exact_d2
  FROM short s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id
),
rr AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY exact_d2, neighbor_id) AS rnk
  FROM rer
),
exact AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid, round({d2s}, 4) AS dd
  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {PQ_NQ}
),
exact_rank AS (
  SELECT qid, nid,
         row_number() OVER (PARTITION BY qid ORDER BY dd, nid) AS ern
  FROM exact
),
truth AS (SELECT qid, nid FROM exact_rank WHERE ern <= {PQ_TOPK}),
hits AS (
  SELECT t.qid, count(r.neighbor_id) AS n_hit
  FROM truth t LEFT JOIN rr r
    ON r.query_id = t.qid AND r.neighbor_id = t.nid AND r.rnk <= {PQ_TOPK}
  GROUP BY t.qid
)
SELECT cast({np} AS BIGINT) AS nprobe,
       cast(sum(n_hit) AS BIGINT) AS n_hit,
       cast((2 * cast(sum(n_hit) AS BIGINT) * 10000 + {denom})
            // (2 * {denom}) AS DOUBLE) / 10000 AS recall_at_k
FROM hits)"""


def _nprobe_curve_duck() -> str:
    arms = "\nUNION ALL\n".join(
        _nprobe_curve_arm(np) for np in _CURVE_NPROBES
    )
    return f"SELECT * FROM (\n{arms}\n) ORDER BY nprobe"


@register("ivf_nprobe_recall_curve", _nprobe_curve_duck(),
          tags=("similarity", "retrieval"))
def ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _D2_SPARK

    from ..io import load_table
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"),
    )
    q = vecs.where(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v")
    )
    c = vecs.select(F.col("vec_id").alias("nid"), F.col("v").alias("cv"))
    wq = Window.partitionBy("qid").orderBy("dd", "nid")
    truth = (
        F.broadcast(q)
        .join(c, F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round(F.expr(_D2_SPARK), 4).alias("dd"))
        .withColumn("ern", F.row_number().over(wq))
        .where(F.col("ern") <= PQ_TOPK)
        .select("qid", "nid")
        .localCheckpoint(eager=False)  # shared by all three arms
    )
    denom = PQ_NQ * PQ_TOPK
    out = None
    for np_ in _CURVE_NPROBES:
        rr = (
            _reranked(spark, sf_dir, nprobe=np_)
            .where(F.col("rnk") <= PQ_TOPK)
            .select(
                F.col("query_id").alias("qid"),
                F.col("neighbor_id").alias("nid"),
                F.lit(1).alias("hit"),
            )
        )
        arm = (
            truth.join(rr, ["qid", "nid"], "left")
            .agg(F.count("hit").cast("bigint").alias("n_hit"))
            .select(
                F.lit(np_).cast("bigint").alias("nprobe"),
                "n_hit",
                (
                    F.expr(
                        f"cast((2 * n_hit * 10000 + {denom}) "
                        f"div (2 * {denom}) AS DOUBLE)"
                    )
                    / 10000
                ).alias("recall_at_k"),
            )
        )
        out = arm if out is None else out.unionAll(arm)
    return out.orderBy("nprobe")
ivf_nprobe_recall_curve.__doc__ = """The nprobe HALF of the PQ re-rank deployment curve as a
    driver-gated query (the shortlist half lives in
    scripts/pq_recall_sweep.py + PERF.md): aggregate recall@{k} of the
    exact-re-ranked IVF-PQ search at probe budgets {nps}, against the
    exact squared-L2 truth — the table a deployment reads to set
    nprobe against its latency budget. One row per budget; the
    registered operating point (nprobe=2) sits inside the curve it is
    judged by.

    Scale notes (100 TB): each arm prunes candidates to its nprobe
    cells before anything pairwise (the `ivf_pq_topk` plan); the
    exact-truth arm is the bounded evaluation panel shared by the
    whole recall family. The three arms share the trained quantizer
    in the Spark plan (computed once, reused across budgets); the
    oracle restates each arm independently.""".format(
        k=PQ_TOPK, nps=_CURVE_NPROBES
    )


# ---------------------------------------------------------------------------
# IVF-PQ + rerank SERVING path: materialized index build / probe
# ---------------------------------------------------------------------------


def write_ivfpq_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize every artifact the inline IVF-PQ queries train per
    call, so the probe path (`probe_ivfpq_index`) pays ZERO training
    cost: ``centroids/`` (coarse k-means, K rows), ``codebooks/``
    (PQ, M x K rows), ``codes/`` (vec_id, s, code — PQ_M bytes of
    payload per vector, partitioned by coarse cell so a probe's scan
    prunes to its cells' files), and ``vectors/`` (full vectors, the
    rerank tier — at 100 TB this tier lives on cheap storage and is
    touched only for queries x shortlist id-pruned point reads).
    Training pipeline identical (same rounded ops) to `_ivfpq_ranked`,
    so probe output == `pq_rerank_tuned` output, oracle-checkable."""
    from ..io import load_table
    from .similarity import _train_kmeans, _kmeans_rank

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"),
    )
    cents, _ = _train_kmeans(vecs)
    cells = (
        _kmeans_rank(vecs, cents)
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )
    subs = _pq_subvectors(vecs)
    c0 = subs.where(F.col("vec_id") < PQ_K).select(
        "s", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    a1 = _pq_assign(subs, c0)
    m1 = (
        a1.join(subs, ["vec_id", "s"])
        .select("s", "cid", F.posexplode("sv").alias("i0", "x"))
        .groupBy("s", "cid", "i0")
        .agg(F.round(F.avg("x"), 4).alias("m"))
    )
    c1 = m1.groupBy("s", "cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i0, m))), e -> e.m)"
        ).alias("cv")
    )
    codes = _pq_assign(subs, c1).withColumnRenamed("cid", "code")
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    c1.write.mode("overwrite").parquet(f"{path}/codebooks")
    (
        codes.join(cells, "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    vecs.write.mode("overwrite").parquet(f"{path}/vectors")


def probe_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    nprobe: int = TUNED_NPROBE,
    shortlist: int = TUNED_SHORTLIST,
    topk: int = PQ_TOPK,
) -> DataFrame:
    """IVF-PQ ADC + exact-rerank SEARCH against a materialized index:
    broadcast the K-row centroids to pick each query's nprobe cells,
    broadcast the M x K codebooks to build per-query LUTs, scan ONLY
    the probed cells' code postings (partition-pruned), ADC-rank,
    then exact-rerank the top-``shortlist`` with id-pruned reads of
    the full-vector tier. ``queries`` is (vec_id, v). No stage reads
    the corpus, no stage trains — the plan a 100 TB deployment runs
    per query batch."""
    from pyspark.sql import Window

    from .similarity import _D2_SPARK, _kmeans_rank

    cents = read_index_parquet(spark, f"{path}/centroids")
    qprobe = (
        _kmeans_rank(queries, cents)
        .where(F.col("rn") <= nprobe)
        .select(F.col("vec_id").alias("qid"), F.col("cid").alias("cell"))
    )
    c1 = read_index_parquet(spark, f"{path}/codebooks")
    lut = (
        _pq_subvectors(queries)
        .join(F.broadcast(c1), "s")
        .select(
            F.col("vec_id").alias("qid"),
            "s",
            F.col("cid").alias("code"),
            F.round(F.expr(_PQD2_SPARK.format(a="sv", b="cv")), 4).alias(
                "dd"
            ),
        )
    )
    codes = read_index_parquet(spark, f"{path}/codes")
    pair = (
        codes.join(F.broadcast(qprobe), "cell")
        .where(F.col("vec_id") != F.col("qid"))
        .join(F.broadcast(lut), ["qid", "s", "code"])
    )
    parts = pair.groupBy("qid", "vec_id").agg(
        *[
            F.sum(F.when(F.col("s") == s, F.col("dd"))).alias(f"d{s}")
            for s in range(1, PQ_M + 1)
        ]
    )
    adc = parts.select(
        F.col("qid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.round(F.expr(_ADC_TERMS), 4).alias("adc_d2"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    short = (
        adc.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    vecs = read_index_parquet(spark, f"{path}/vectors")
    rer = (
        vecs.select(
            F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")
        )
        .join(F.broadcast(short), "neighbor_id")
        .join(
            F.broadcast(
                queries.select(F.col("vec_id").alias("query_id"), "v")
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(_D2_SPARK), 4).alias("exact_d2"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy("exact_d2", "neighbor_id")
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= topk)
        .select("query_id", "rnk", "neighbor_id", "exact_d2")
        .orderBy("query_id", "rnk")
    )


def merge_ivfpq_index(
    spark: SparkSession, path: str, batch: DataFrame
) -> None:
    """Admit a (vec_id, v) batch into a materialized IVF-PQ index
    WITHOUT retraining: assign each vector to its nearest EXISTING
    coarse centroid, encode it with the EXISTING codebooks, append to
    the cell-partitioned code postings and the full-vector rerank
    tier. O(batch) work against bounded broadcast tables — the
    nightly admission path; codebook/centroid refresh is the separate
    periodic rebuild (`write_ivfpq_index`), exactly FAISS's
    add-vs-train split."""
    from .similarity import _kmeans_rank

    cents = read_index_parquet(spark, f"{path}/centroids")
    c1 = read_index_parquet(spark, f"{path}/codebooks")
    vecs = batch.select(
        "vec_id", F.expr("transform(v, x -> cast(x AS DOUBLE))").alias("v")
    )
    cells = (
        _kmeans_rank(vecs, cents)
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )
    codes = _pq_assign(_pq_subvectors(vecs), c1).withColumnRenamed(
        "cid", "code"
    )
    (
        codes.join(cells, "vec_id")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    vecs.write.mode("append").parquet(f"{path}/vectors")


# ---------------------------------------------------------------------------
# RM3 pseudo-relevance feedback: BM25 + relevance-model query expansion
# ---------------------------------------------------------------------------

#: feedback depth, expansion width and the interpolation weight
#: (Lavrenko & Croft 2001 relevance models; RM3 = interpolation of the
#: original query with the relevance model — Abdul-Jaleel et al.,
#: UMass TREC 2004). alpha weights the ORIGINAL query score.
RM3_FB_DOCS = 3
RM3_EXP_TERMS = 3
RM3_ALPHA_NUM = 6  # alpha = 6/10 as an exact decimal literal below

#: One SQL body shared verbatim by both engines (the bm25_topk
#: discipline): every stage rounds to 4dp before feeding the next, so
#: cross-engine libm drift in ln() cannot compound.
_RM3_BODY = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT cast(count(*) AS DOUBLE) AS n_docs,
         avg(cast(dl AS DOUBLE)) AS avgdl
  FROM doclen
),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
qterms AS (
  SELECT term, df FROM df
  ORDER BY df ASC, term ASC LIMIT {N_QUERY_TERMS}
),
tf AS (
  SELECT toks.doc_id, toks.term, count(*) AS tf
  FROM toks JOIN qterms ON toks.term = qterms.term
  GROUP BY toks.doc_id, toks.term
),
scored AS (
  SELECT tf.term, tf.doc_id,
         round(
           ln(1.0 + (stats.n_docs - qterms.df + 0.5) / (qterms.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                + {BM25_B} * doclen.dl / stats.avgdl)),
           4) AS bm25
  FROM tf
  JOIN qterms ON tf.term = qterms.term
  JOIN doclen ON tf.doc_id = doclen.doc_id
  CROSS JOIN stats
),
fb AS (
  SELECT term AS qterm, doc_id, bm25 FROM (
    SELECT term, doc_id, bm25,
           row_number() OVER (PARTITION BY term
                              ORDER BY bm25 DESC, doc_id) AS rnk
    FROM scored
  ) WHERE rnk <= {RM3_FB_DOCS}
),
fbtf AS (
  SELECT fb.qterm, toks.term AS eterm, fb.doc_id, fb.bm25,
         count(*) AS tf_e
  FROM fb JOIN toks ON toks.doc_id = fb.doc_id
  GROUP BY fb.qterm, toks.term, fb.doc_id, fb.bm25
),
eweight AS (
  SELECT qterm, eterm,
         round(sum(round(cast(tf_e AS DOUBLE) / doclen.dl * bm25, 4)), 4)
           AS w
  FROM fbtf JOIN doclen ON fbtf.doc_id = doclen.doc_id
  WHERE eterm <> qterm
  GROUP BY qterm, eterm
),
etop AS (
  SELECT qterm, eterm, w FROM (
    SELECT qterm, eterm, w,
           row_number() OVER (PARTITION BY qterm
                              ORDER BY w DESC, eterm) AS rnk
    FROM eweight
  ) WHERE rnk <= {RM3_EXP_TERMS}
),
enorm AS (
  SELECT qterm, eterm,
         round(w / sum(w) OVER (PARTITION BY qterm), 4) AS wn
  FROM etop
),
etf AS (
  SELECT toks.doc_id, toks.term, count(*) AS tf
  FROM toks
  JOIN (SELECT DISTINCT eterm FROM etop) e ON toks.term = e.eterm
  GROUP BY toks.doc_id, toks.term
),
escored AS (
  SELECT etf.term, etf.doc_id,
         round(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (etf.tf * ({BM25_K1} + 1.0))
           / (etf.tf + {BM25_K1} * (1.0 - {BM25_B}
                + {BM25_B} * doclen.dl / stats.avgdl)),
           4) AS bm25
  FROM etf
  JOIN df ON etf.term = df.term
  JOIN doclen ON etf.doc_id = doclen.doc_id
  CROSS JOIN stats
),
expcontrib AS (
  SELECT en.qterm, es.doc_id,
         round(sum(round(en.wn * es.bm25, 4)), 4) AS exp_score
  FROM enorm en JOIN escored es ON es.term = en.eterm
  GROUP BY en.qterm, es.doc_id
),
cand AS (
  SELECT qterm, doc_id FROM (
    SELECT term AS qterm, doc_id FROM scored
    UNION
    SELECT qterm, doc_id FROM expcontrib
  ) u
),
final AS (
  SELECT c.qterm AS term, c.doc_id,
         round(0.{RM3_ALPHA_NUM} * coalesce(s.bm25, 0.0)
               + (1.0 - 0.{RM3_ALPHA_NUM}) * coalesce(x.exp_score, 0.0),
               4) AS rm3_score
  FROM cand c
  LEFT JOIN scored s ON s.term = c.qterm AND s.doc_id = c.doc_id
  LEFT JOIN expcontrib x ON x.qterm = c.qterm AND x.doc_id = c.doc_id
),
ranked AS (
  SELECT term, doc_id, rm3_score,
         row_number() OVER (PARTITION BY term
                            ORDER BY rm3_score DESC, doc_id) AS rnk
  FROM final
)
SELECT term, rnk, doc_id, rm3_score FROM ranked
WHERE rnk <= {BM25_TOPK}
ORDER BY term, rnk
"""

_RM3_SPARK = D.to_spark_sql(
    _RM3_BODY,
    ("unnest(string_split(text, ' '))", "explode(split(text, ' '))"),
)


@register("bm25_rm3_topk", _RM3_BODY, tags=("text", "retrieval"))
def bm25_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(_RM3_SPARK)
bm25_rm3_topk.__doc__ = """RM3 pseudo-relevance feedback (Lavrenko & Croft 2001 relevance
    models; the RM3 interpolation of Abdul-Jaleel et al. 2004) on top
    of `bm25_topk`: for each probed term, take its top-{f} BM25
    feedback docs, estimate the relevance model over their vocabulary
    (P(w|R) ~ sum over feedback docs of tf(w,d)/|d| weighted by the
    doc's BM25 score), keep the top-{e} expansion terms (original
    term excluded), L1-normalize their weights, BM25-score the
    expansion terms against the corpus, and rank candidates by
    alpha * original + (1 - alpha) * weighted expansion
    (alpha = 0.{a}). The canonical lexical query-expansion pass a
    retrieval stack runs when recall matters more than latency —
    completing the retrieval family (BM25 -> RRF -> MMR -> RM3:
    ranking, fusion, diversification, expansion).

    Determinism: one SQL body shared VERBATIM by both engines (the
    bm25_topk discipline); every stage rounds to 4dp before feeding
    the next, so libm ln() drift cannot compound across stages; all
    ranks tie-break on (score DESC, id).

    Scale notes (100 TB): feedback is {f} docs x {n} query terms —
    the fbtf census explodes ONLY those docs (bounded); expansion
    scoring joins the postings of <= {n} x {e} distinct terms (the
    qterms-prune discipline: the term join lands BEFORE the tf
    aggregation, so the scoring shuffle is O(matching postings), not
    O(corpus tokens)); candidate union and final interpolation are
    bounded by the probed terms' posting lists. The df table is the
    one |vocab|-keyed shuffle, shared with bm25_topk's plan.""".format(
        f=RM3_FB_DOCS, e=RM3_EXP_TERMS, a=RM3_ALPHA_NUM, n=N_QUERY_TERMS
    )
