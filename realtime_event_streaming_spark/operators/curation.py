"""Corpus-curation operators: benchmark contamination + source mixing.

Extension surface for the training-data pipeline (no reference
analogue; the reference's scope ends at clickstream analytics). Two
steps every LLM data pipeline runs before training:

- **Contamination check**: does a training document contain n-grams
  from the evaluation/benchmark set? Implemented as a distinct-n-gram
  overlap join. At 100 TB the benchmark side is tiny (eval suites are
  KBs-MBs) — it broadcasts, so the check is one map-side join over the
  corpus posting list with a per-doc count; no shuffle of the corpus
  text itself. 5-grams (not the dedup 3-grams): longer spans make
  incidental collisions rare, which is the standard contamination
  heuristic (cf. GPT-3/PaLM appendix decontamination: 8-13-gram
  overlap).
- **Mixing weights**: per-source sampling weights that reshape the
  corpus toward a target domain distribution (uniform here); the
  output feeds a weighted sampler (``sampling.stratified_sample``).

The eval set is a deterministic slice of the corpus itself
(``doc_id % 97 = 0``), and the scanned corpus is augmented with
deterministic quoting docs (one per eval doc, ids above max(doc_id))
so the check has guaranteed positives at every scale factor — the
empty-vs-empty oracle trap from round 1 does not apply (verified: the
raw fixture alone yields ZERO organic contamination hits at sf0.01).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..registry import register

EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 -> "benchmark" doc
MIN_HITS = 2  # flag docs sharing >= 2 distinct 5-grams with the eval set

_G5_EXPR = (
    "explode(array_distinct(transform(sequence(1, size(tk) - 4), "
    "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), "
    "element_at(tk, i + 2), element_at(tk, i + 3), element_at(tk, i + 4)))))"
)

_DUCK_G5 = """
toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
  WHERE len(string_split(text, ' ')) >= 5
),
g5 AS (
  SELECT DISTINCT doc_id,
         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
               || ' ' || tk[i+4] AS s
  FROM toks, UNNEST(generate_series(1, len(tk) - 4)) AS g(i)
)
"""


_CONTAMINATION_DUCK = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
  FROM documents WHERE doc_id % {EVAL_MOD} = 0
),
toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM corpus
  WHERE len(string_split(text, ' ')) >= 5
),
g5 AS (
  SELECT DISTINCT doc_id,
         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
               || ' ' || tk[i+4] AS s
  FROM toks, UNNEST(generate_series(1, len(tk) - 4)) AS g(i)
),
ev AS (
  SELECT DISTINCT s FROM g5
  WHERE doc_id % {EVAL_MOD} = 0 AND doc_id <= (SELECT max(doc_id) FROM documents)
),
hits AS (
  SELECT g5.doc_id, count(*) AS n_hits
  FROM g5 JOIN ev USING (s)
  WHERE NOT (g5.doc_id % {EVAL_MOD} = 0
             AND g5.doc_id <= (SELECT max(doc_id) FROM documents))
  GROUP BY g5.doc_id
)
SELECT doc_id, n_hits FROM hits
WHERE n_hits >= {MIN_HITS}
ORDER BY doc_id
"""


@register("benchmark_contamination", _CONTAMINATION_DUCK, tags=("curation",))
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    offset_df = docs.agg((F.max("doc_id") + 1).alias("_offset"))
    quotes = (
        docs.where(F.col("doc_id") % EVAL_MOD == 0)
        .crossJoin(F.broadcast(offset_df))
        .select((F.col("doc_id") + F.col("_offset")).alias("doc_id"), "text")
    )
    corpus = docs.unionByName(quotes)
    g5 = (
        corpus.select("doc_id", F.split("text", " ").alias("tk"))
        .where(F.size("tk") >= 5)
        .select("doc_id", F.expr(_G5_EXPR).alias("s"))
    )
    is_eval = (F.col("doc_id") % EVAL_MOD == 0) & (
        F.col("doc_id") <= F.col("_max_id")
    )
    g5 = g5.crossJoin(
        F.broadcast(docs.agg(F.max("doc_id").alias("_max_id")))
    )
    ev = g5.where(is_eval).select("s").distinct()
    return (
        g5.where(~is_eval)
        .join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
        .where(F.col("n_hits") >= MIN_HITS)
        .orderBy("doc_id")
    )
benchmark_contamination.__doc__ = """Training docs sharing >= {MIN_HITS} distinct 5-grams with the
    benchmark slice — the decontamination scan. The corpus is augmented
    with one deterministic quoting doc per eval doc (ids above
    max(doc_id), same lazy broadcast-offset pattern as
    dedup_exact_groups) so positives exist at every SF. Plan shape: the
    eval n-gram set (small — eval suites are KBs against a 100 TB
    corpus) broadcasts; the corpus posting list is joined map-side and
    reduced per doc.""".format(MIN_HITS=MIN_HITS)


#: Deterministic PII planting: every 13th doc gets one synthetic email
#: + one synthetic IPv4 appended (the raw fixture text is a digit-free
#: word salad — organic PII count is ZERO, so without planting the scan
#: would be the empty-vs-empty trap). Patterns are RE2-and-Java-regex
#: compatible (no lookaround, no backrefs).
PII_MOD = 13
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_IPV4_RE = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

_PII_DUCK = f"""
WITH corpus AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % {PII_MOD} = 0
              THEN text || ' contact user' || doc_id
                   || '@example.com from 10.0.' || (doc_id % 256) || '.7'
              ELSE text END AS text
  FROM documents
),
scan AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{_IPV4_RE}')) AS n_ips
  FROM corpus
)
SELECT source,
       count(*) AS n_docs,
       cast(sum(CASE WHEN n_emails + n_ips > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_pii,
       cast(sum(n_emails) AS BIGINT) AS total_emails,
       cast(sum(n_ips) AS BIGINT) AS total_ips
FROM scan GROUP BY source ORDER BY source
"""


@register("pii_scan", _PII_DUCK, tags=("curation",))
def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    planted = F.when(
        F.col("doc_id") % PII_MOD == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com from 10.0."),
            F.col("doc_id") % 256,
            F.lit(".7"),
        ),
    ).otherwise(F.col("text"))
    scan = docs.select(
        "source",
        F.regexp_count(planted, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(planted, F.lit(_IPV4_RE)).alias("n_ips"),
    )
    return (
        scan.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("n_emails") + F.col("n_ips") > 0, 1).otherwise(0)
            ).alias("docs_with_pii"),
            F.sum("n_emails").alias("total_emails"),
            F.sum("n_ips").alias("total_ips"),
        )
        .orderBy("source")
    )
pii_scan.__doc__ = """PII exposure census per source: regex scan for emails and IPv4
    addresses (the pre-training scrub pass). One projection over the
    corpus — `regexp_count` stays in whole-stage codegen; at 100 TB
    this is a pure map, no shuffle beyond the tiny per-source agg.
    Deterministic PII is planted on every {PII_MOD}th doc because the
    fixture text contains none organically.""".format(PII_MOD=PII_MOD)


_REPETITION_DUCK = """
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
g3 AS (
  SELECT doc_id, source,
         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
  FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS g(i)
),
per_doc AS (
  SELECT doc_id, source,
         1.0 - cast(count(DISTINCT s) AS DOUBLE) / count(*) AS rep_frac
  FROM g3 GROUP BY doc_id, source
)
SELECT source,
       count(*) AS n_docs,
       round(avg(rep_frac), 4) AS avg_rep_3gram,
       round(max(rep_frac), 4) AS max_rep_3gram
FROM per_doc GROUP BY source ORDER BY source
"""


@register("doc_repetition_stats", _REPETITION_DUCK, tags=("curation",))
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document 3-gram repetition per source — the Gopher-style
    repetition quality rule (a high duplicate-n-gram fraction marks
    boilerplate/spam). All-occurrence (non-distinct) n-grams grouped
    per doc, then a per-source rollup; single scan, bounded shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    g3 = (
        docs.select("doc_id", "source", F.split("text", " ").alias("tk"))
        .where(F.size("tk") >= 3)
        .select(
            "doc_id",
            "source",
            F.expr(
                "explode(transform(sequence(1, size(tk) - 2), "
                "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), "
                "element_at(tk, i + 2))))"
            ).alias("s"),
        )
    )
    per_doc = g3.groupBy("doc_id", "source").agg(
        (
            F.lit(1.0)
            - F.countDistinct("s").cast("double") / F.count("*")
        ).alias("rep_frac")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("rep_frac"), 4).alias("avg_rep_3gram"),
            F.round(F.max("rep_frac"), 4).alias("max_rep_3gram"),
        )
        .orderBy("source")
    )


_MIX_DUCK = """
WITH tot AS (
  SELECT cast(count(*) AS DOUBLE) AS n,
         cast(sum(n_chars) AS DOUBLE) AS c
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       round(cast(count(*) AS DOUBLE) / tot.n, 4) AS doc_share,
       round(cast(sum(n_chars) AS DOUBLE) / tot.c, 4) AS char_share,
       round((cast(sum(n_chars) AS DOUBLE) / tot.c)
             / (cast(count(*) AS DOUBLE) / tot.n), 4) AS weight
FROM documents, tot
GROUP BY source, tot.n, tot.c
ORDER BY source
"""


@register("source_mix_weights", _MIX_DUCK, tags=("curation",))
def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-sampling weights that reshape the corpus so
    the sampled DOC distribution matches the TOKEN-mass distribution
    (char mass as the token proxy): weight = char_share / doc_share —
    sources of longer documents are upsampled. A uniform target would
    be degenerate on this fixture (sources are exactly balanced by
    construction); char mass differs per source, so the weights are
    real. Feeds a weighted sampler; the 1-row totals broadcast keeps
    the plan a single scan + tiny agg at any scale."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    tot = docs.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("n_chars").cast("double").alias("c"),
    )
    doc_share = F.col("n_docs").cast("double") / F.col("n")
    char_share = F.col("chars").cast("double") / F.col("c")
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(doc_share, 4).alias("doc_share"),
            F.round(char_share, 4).alias("char_share"),
            F.round(char_share / doc_share, 4).alias("weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# corpus snapshot diff (dataset versioning)
# ---------------------------------------------------------------------------

_SNAP_DIFF_SQL = """
WITH prev AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
  WHERE doc_id % 11 <> 0
),
curr AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0 THEN md5(text || ' edited') 
              ELSE md5(text) END AS h
  FROM documents
  WHERE doc_id % 13 <> 0
),
joined AS (
  SELECT coalesce(c.source, p.source) AS source,
         CASE WHEN p.doc_id IS NULL THEN 'added'
              WHEN c.doc_id IS NULL THEN 'removed'
              WHEN c.h <> p.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM curr c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
)
SELECT source, status, cast(count(*) AS BIGINT) AS n_docs
FROM joined
GROUP BY source, status
ORDER BY source, status
"""


@register("corpus_snapshot_diff", _SNAP_DIFF_SQL, tags=("curation",))
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff between two corpus snapshots: per
    (source, status) counts of added / removed / changed / unchanged
    docs, where change detection is content-hash comparison, never a
    text comparison. The two snapshots are deterministic fixtures
    carved from the documents table (prev drops every 11th doc, curr
    drops every 13th and edits every 7th) so every status bucket is
    provably non-empty. Plan shape: one full outer hash-join on the
    primary key carrying only (id, source, 32-byte hash) — at 100 TB
    the diff never reads text twice, and the join keys are the
    snapshot tables' natural sort/bucket key, so co-located snapshots
    diff without a shuffle."""
    from ..io import register_views

    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(_SNAP_DIFF_SQL)


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed n-gram importance resampling)
# ---------------------------------------------------------------------------

#: Hashed-unigram feature space size. DSIR (Xie et al. 2023, "Data
#: Selection for Language Models via Importance Resampling") uses 10^4
#: buckets at web scale; the fixture corpus is small so 2^10 keeps
#: per-bucket counts dense. The bucket table ALWAYS broadcasts.
DSIR_BUCKETS = 1024
#: The "target domain" anchor: DSIR reweights raw data toward a
#: high-quality target (Wikipedia in the paper). The fixture's sources
#: are synthetic peers, so the first source bucket stands in as the
#: target — the estimator is source-agnostic.
DSIR_TARGET = "src0"

_DSIR_DUCK = f"""
WITH b AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(tok), 1, 14))::BIGINT % {DSIR_BUCKETS} AS bk
  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        FROM documents)
),
stats AS (
  SELECT bk,
         sum(CASE WHEN source = '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN source <> '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS cr
  FROM b GROUP BY bk
),
tot AS (
  SELECT sum(ct) AS tn, sum(cr) AS rn FROM stats
),
llr AS (
  SELECT bk,
         round(ln((ct + 1.0) / (tn + {DSIR_BUCKETS}))
             - ln((cr + 1.0) / (rn + {DSIR_BUCKETS})), 6) AS w
  FROM stats, tot
),
docw AS (
  SELECT b.doc_id, b.source,
         round(sum(l.w) / count(*), 4) AS logw
  FROM b JOIN llr l USING (bk)
  GROUP BY b.doc_id, b.source
),
gm AS (SELECT round(avg(logw), 4) AS g FROM docw)
SELECT source,
       cast(count(*) AS BIGINT) AS n_docs,
       round(avg(logw), 4) AS avg_logw,
       round(max(logw), 4) AS max_logw,
       cast(sum(CASE WHEN logw > g THEN 1 ELSE 0 END) AS BIGINT)
         AS selected_docs
FROM docw, gm
GROUP BY source
ORDER BY source
"""


@register("dsir_importance_weights", _DSIR_DUCK, tags=("curation", "sampling"))
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = (
        docs.select(
            "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .select(
            "doc_id",
            "source",
            F.expr(
                f"cast(conv(substr(md5(tok), 1, 14), 16, 10) as bigint) "
                f"% {DSIR_BUCKETS}"
            ).alias("bk"),
        )
        .localCheckpoint(eager=False)
    )
    is_t = F.col("source") == DSIR_TARGET
    stats = b.groupBy("bk").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~is_t, 1).otherwise(0)).alias("cr"),
    )
    tot = stats.agg(
        F.sum("ct").alias("tn"), F.sum("cr").alias("rn")
    )
    # 1-row totals broadcast onto the bounded bucket table.
    llr = stats.crossJoin(F.broadcast(tot)).select(
        "bk",
        F.round(
            F.log((F.col("ct") + 1.0) / (F.col("tn") + DSIR_BUCKETS))
            - F.log((F.col("cr") + 1.0) / (F.col("rn") + DSIR_BUCKETS)),
            6,
        ).alias("w"),
    )
    docw = (
        b.join(F.broadcast(llr), "bk")
        .groupBy("doc_id", "source")
        .agg(F.round(F.sum("w") / F.count("*"), 4).alias("logw"))
    )
    gm = docw.agg(F.round(F.avg("logw"), 4).alias("g"))
    return (
        docw.crossJoin(F.broadcast(gm))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("logw"), 4).alias("avg_logw"),
            F.round(F.max("logw"), 4).alias("max_logw"),
            F.sum(F.when(F.col("logw") > F.col("g"), 1).otherwise(0))
            .cast("bigint")
            .alias("selected_docs"),
        )
        .orderBy("source")
    )
dsir_importance_weights.__doc__ = """DSIR importance weights (Xie et al. 2023): score every raw doc
    by how much more likely its hashed-unigram bag is under the target
    domain's unigram model than under the raw pool's —
    log w(d) = mean over tokens of ln(p_target(bk)/p_raw(bk)) with
    add-1 smoothing over {DSIR_BUCKETS} md5-hashed buckets (per-TOKEN
    mean, not the paper's raw sum — the raw sum is monotone in doc
    length on this corpus, which would make "selected" a length
    filter; the mean scores domain affinity at any length). Docs
    above the corpus-mean weight are the selected half; the census
    reports per-source mean/max weight and that selected count (the
    resampling step itself is ``sampling.weighted_doc_sample`` /
    ``temperature_resample_counts`` on these weights).

    Determinism: bucket = 56-bit md5 prefix mod {DSIR_BUCKETS}
    (identical integer in both engines); per-bucket log-ratios are
    rounded to 6 dp before the per-doc sum, per-doc sums to 4 dp
    before any comparison or average, so summation order cannot flip
    the selected-count threshold.

    Scale notes (100 TB): the token->bucket projection shuffles ONLY
    16-byte bucket ids keyed by {DSIR_BUCKETS} values (bounded, dense
    — no skew); the bucket model is a <={DSIR_BUCKETS}-row table that
    broadcasts into a map-side join; the per-doc sum is the one
    corpus-sized shuffle, keyed by doc_id. In the paper's setting the
    target n-gram counts come from a SMALL curated corpus — that side
    gets its own scan; both model tables still broadcast.""".format(DSIR_BUCKETS=DSIR_BUCKETS)


# ---------------------------------------------------------------------------
# right-to-erasure audit (GDPR deletion propagation)
# ---------------------------------------------------------------------------

#: Deterministic erasure list: every user whose id hashes into the
#: deletion cohort (id % ERASE_MOD == 0) has requested deletion. Both
#: engines derive the identical list from the data itself.
ERASE_MOD = 101

_ERASE_DUCK = f"""
WITH erased AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % {ERASE_MOD} = 0
),
marked AS (
  SELECT e.event_type, e.user_id, date_trunc('minute', e.ts) AS m,
         (x.user_id IS NOT NULL) AS hit
  FROM events e LEFT JOIN erased x USING (user_id)
),
survivor_check AS (
  SELECT count(*) AS residue
  FROM marked WHERE NOT hit AND user_id % {ERASE_MOD} = 0
)
SELECT event_type,
       cast(count(*) AS BIGINT) AS rows_total,
       cast(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased,
       cast(count(DISTINCT CASE WHEN hit THEN user_id END) AS BIGINT)
         AS users_erased,
       cast(count(DISTINCT CASE WHEN hit THEN m END) AS BIGINT)
         AS affected_minutes,
       cast(count(*) - sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
         AS rows_after,
       (SELECT residue FROM survivor_check) = 0 AS clean
FROM marked
GROUP BY event_type
ORDER BY event_type
"""


@register("user_erasure_audit", _ERASE_DUCK, tags=("curation",))
def user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (GDPR art. 17) propagation audit: given the
    deletion cohort, report per event_type how many raw rows and
    distinct users the erasure removes, how many PER-MINUTE ROLLUP
    groups become stale (``affected_minutes`` — each needs its count
    AND its exact-distinct recomputed; a SummingMergeTree-style store
    can only decrement counts, which is reference bug territory), the
    surviving row count, and a ``clean`` flag proving the anti-join
    left no cohort row behind. The flag is computed from the engine's
    OWN output (count of cohort rows among survivors), so the oracle
    hash pins the erasure actually happened, not just the intent.

    Scale notes (100 TB): one scan of events; the erasure list is
    DISTINCT over a modular filter (tiny — it broadcasts; a real
    deletion-request table broadcasts the same way at daily volumes);
    the census is map-side flagging + one bounded per-type agg with
    two conditional distincts. Erasure-as-rewrite of the raw table is
    the same anti-join executed as a partition overwrite, and
    ``affected_minutes`` sizes exactly the rollup backfill that must
    follow (io.backfill_minute_rollup)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.date_trunc("minute", "ts").alias("m")
    )
    erased = (
        ev.where(F.col("user_id") % ERASE_MOD == 0)
        .select("user_id")
        .distinct()
        .withColumn("hit_", F.lit(True))
    )
    marked = ev.join(F.broadcast(erased), "user_id", "left").select(
        "event_type",
        "user_id",
        "m",
        F.coalesce("hit_", F.lit(False)).alias("hit"),
    )
    residue = marked.where(
        (~F.col("hit")) & (F.col("user_id") % ERASE_MOD == 0)
    ).agg(F.count("*").alias("residue"))
    return (
        marked.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("rows_total"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("rows_erased"),
            F.countDistinct(F.when(F.col("hit"), F.col("user_id")))
            .cast("bigint")
            .alias("users_erased"),
            F.countDistinct(F.when(F.col("hit"), F.col("m")))
            .cast("bigint")
            .alias("affected_minutes"),
        )
        .withColumn(
            "rows_after", (F.col("rows_total") - F.col("rows_erased"))
        )
        .crossJoin(F.broadcast(residue))
        .select(
            "event_type",
            "rows_total",
            "rows_erased",
            "users_erased",
            "affected_minutes",
            F.col("rows_after").cast("bigint").alias("rows_after"),
            (F.col("residue") == 0).alias("clean"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# k-anonymity census with a generalization ladder (privacy QA)
# ---------------------------------------------------------------------------

#: re-identification threshold: an equivalence class of fewer than K
#: distinct users is "at risk" (Sweeney 2002's k-anonymity).
K_ANON = 5


def _kanon_sql(idiv: str) -> str:
    from ..functions import dialect as D

    return f"""
WITH ev AS (
  SELECT user_id,
         {D.COUNTRY_SQL} AS country,
         {D.DEVICE_SQL} AS device,
         {D.PAGE_K_SQL} AS page
  FROM events
),
cls AS (
  SELECT grouping(country) * 4 + grouping(device) * 2 + grouping(page)
           AS gset,
         country, device, page,
         cast(count(*) AS BIGINT) AS n_rows,
         cast(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM ev
  GROUP BY GROUPING SETS ((country, device, page), (country, device),
                          (country), ())
),
census AS (
  SELECT gset,
         cast(count(*) AS BIGINT) AS n_classes,
         cast(sum(CASE WHEN n_users < {K_ANON} THEN 1 ELSE 0 END)
              AS BIGINT) AS classes_lt_k,
         cast(sum(CASE WHEN n_users < {K_ANON} THEN n_users ELSE 0 END)
              AS BIGINT) AS users_at_risk,
         cast(sum(CASE WHEN n_users < {K_ANON} THEN n_rows ELSE 0 END)
              AS BIGINT) AS rows_at_risk,
         cast(sum(n_rows) AS BIGINT) AS total_rows
  FROM cls GROUP BY gset
)
SELECT CASE gset WHEN 0 THEN 'country+device+page'
                 WHEN 1 THEN 'country+device'
                 WHEN 3 THEN 'country'
                 ELSE 'none' END AS qi_level,
       cast(3 - CASE gset WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 3 THEN 2
                          ELSE 3 END AS BIGINT) AS n_qi_cols,
       n_classes, classes_lt_k, users_at_risk, rows_at_risk,
       cast((2 * rows_at_risk * 10000 + total_rows)
            {idiv} (2 * total_rows) AS DOUBLE) / 10000
         AS pct_rows_at_risk
FROM census
ORDER BY n_qi_cols DESC
"""


@register(
    "k_anonymity_census", _kanon_sql("//"), headline=True, tags=("curation",)
)
def k_anonymity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import register_views

    register_views(spark, sf_dir, tables=("events",))
    return spark.sql(_kanon_sql("div"))
k_anonymity_census.__doc__ = """k-anonymity audit of the event log under the quasi-identifier
    set (country, device, page), k = {k}: how many equivalence
    classes hold fewer than {k} distinct users, and how many
    users/rows sit in them — plus the GENERALIZATION LADDER (drop one
    QI at a time down to 'none'), showing how much risk each
    coarsening removes. This is the release-gate sibling of
    `pii_scan`/`user_erasure_audit`: scan finds identifiers, erasure
    removes a cohort, and THIS query quantifies re-identification
    exposure before an event-level dataset ships (Sweeney 2002).

    Plan: ONE scan — all four QI levels aggregate in a single
    GROUPING SETS pass (grouping-id keyed), then a bounded per-level
    census; the risk percentage is an integer half-up 4-dp ratio.
    Scale notes (100 TB): Spark lowers grouping sets to an Expand
    (one row per set, 4x here, plus the distinct-user expand) that is
    partial-aggregated MAP-SIDE before the one shuffle — so the
    exchanged data is class-cardinality-bounded, and class
    cardinality is bounded by the QI domain (8 x 3 x 100 here)
    regardless of corpus size; the 4x expansion costs scan-local CPU,
    never network. Risk by construction falls monotonically as QI
    columns drop — pinned by test.""".format(k=K_ANON)


# ---------------------------------------------------------------------------
# PII redaction round-trip: the scrub TRANSFORM pii_scan only censuses
# ---------------------------------------------------------------------------


def _redact_sql(cnt: str, gflag: str) -> str:
    """One body, two dialects. ``cnt`` counts regex matches;
    ``gflag`` is DuckDB's ', ''g''' (its regexp_replace replaces only
    the FIRST match without it — Spark replaces all by default)."""
    return f"""
WITH corpus AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % {PII_MOD} = 0
              THEN text || ' contact user' || doc_id
                   || '@example.com from 10.0.' || (doc_id % 256) || '.7'
              ELSE text END AS text
  FROM documents
),
red AS (
  SELECT doc_id, source, text,
         regexp_replace(
           regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>'{gflag}),
           '{_IPV4_RE}', '<IP>'{gflag}) AS redacted
  FROM corpus
),
scan AS (
  SELECT source,
         {cnt.format(col="text", re=_EMAIL_RE)} AS e_cnt,
         {cnt.format(col="text", re=_IPV4_RE)} AS i_cnt,
         {cnt.format(col="redacted", re=_EMAIL_RE)}
           + {cnt.format(col="redacted", re=_IPV4_RE)} AS residual,
         {cnt.format(col="redacted", re="<EMAIL>")} AS e_tags,
         {cnt.format(col="redacted", re="<IP>")} AS i_tags,
         CASE WHEN redacted = text THEN 1 ELSE 0 END AS unchanged
  FROM red
)
SELECT source,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(sum(e_cnt) AS BIGINT) AS emails_redacted,
       cast(sum(i_cnt) AS BIGINT) AS ips_redacted,
       cast(sum(e_tags) AS BIGINT) AS email_tags,
       cast(sum(i_tags) AS BIGINT) AS ip_tags,
       cast(sum(residual) AS BIGINT) AS residual_pii,
       cast(sum(unchanged) AS BIGINT) AS docs_unchanged,
       cast(sum(1 - unchanged) AS BIGINT) AS docs_redacted
FROM scan GROUP BY source ORDER BY source
"""


_REDACT_DUCK = _redact_sql(
    "len(regexp_extract_all({col}, '{re}'))", ", 'g'"
)
_REDACT_SPARK = _redact_sql("regexp_count({col}, '{re}')", "")


@register("pii_redaction_roundtrip", _REDACT_DUCK, tags=("curation",))
def pii_redaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import register_views

    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(_REDACT_SPARK)
pii_redaction_roundtrip.__doc__ = """The PII SCRUB pass itself, self-checking (`pii_scan` counts
    exposure; this one removes it and PROVES the removal): emails and
    IPv4s are replaced with typed placeholder tags, and the output
    row carries the proof obligations — residual_pii (post-redaction
    re-scan, must be 0), tag conservation (email_tags ==
    emails_redacted: every match became exactly one tag), and
    clean-document integrity (docs_unchanged: a doc with no PII is
    byte-identical after the pass — the scrubber touches nothing it
    shouldn't). Deterministic PII is planted on every {m}th doc (the
    `pii_scan` recipe) so the transform has real work at any scale
    factor; the round-trip discipline of `text_normalize_roundtrip`.

    Scale notes (100 TB): pure map — two regexp_replace and six
    regexp counts per row inside whole-stage codegen, one bounded
    per-source aggregation. The production form writes `redacted`
    back as the curated text column; this census is its audit
    side-output.""".format(m=PII_MOD)


# ---------------------------------------------------------------------------
# generation provenance: attribute "generated" text back to its sources
# ---------------------------------------------------------------------------

#: every Nth doc contributes a generation excerpt
_PROV_MOD = 97
#: excerpt geometry: tokens [start, start+len)
_PROV_START = 6
_PROV_LEN = 20

_PROV_DUCK = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
  WHERE len(string_split(text, ' ')) >= 5
),
gens AS (
  SELECT doc_id AS gen_id,
         tk[{_PROV_START + 1}:{_PROV_START + _PROV_LEN}] AS gtk
  FROM toks
  WHERE doc_id % {_PROV_MOD} = 0
    AND len(tk) >= {_PROV_START + _PROV_LEN}
),
gg AS (
  SELECT DISTINCT gen_id,
         gtk[i] || ' ' || gtk[i+1] || ' ' || gtk[i+2] || ' '
                || gtk[i+3] || ' ' || gtk[i+4] AS s
  FROM gens, UNNEST(generate_series(1, len(gtk) - 4)) AS g(i)
),
gtot AS (SELECT gen_id, cast(count(*) AS BIGINT) AS n_total FROM gg
         GROUP BY gen_id),
cg AS (
  SELECT DISTINCT doc_id,
         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
               || ' ' || tk[i+4] AS s
  FROM toks, UNNEST(generate_series(1, len(tk) - 4)) AS g(i)
),
hits AS (
  SELECT gg.gen_id, cg.doc_id, cast(count(*) AS BIGINT) AS n_match
  FROM gg JOIN cg USING (s)
  GROUP BY gg.gen_id, cg.doc_id
),
top AS (
  SELECT gen_id, doc_id AS top_doc, n_match,
         row_number() OVER (PARTITION BY gen_id
                            ORDER BY n_match DESC, doc_id) AS rn
  FROM hits
)
SELECT t.gen_id,
       t.top_doc,
       t.n_match,
       g.n_total,
       cast((2 * t.n_match * 10000 + g.n_total)
            // (2 * g.n_total) AS DOUBLE) / 10000 AS coverage,
       (t.top_doc = t.gen_id) AS self_attributed
FROM top t JOIN gtot g ON g.gen_id = t.gen_id
WHERE t.rn = 1
ORDER BY t.gen_id
"""


@register("generation_provenance", _PROV_DUCK, tags=("curation", "text"))
def generation_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import register_views

    from ..functions import dialect as D

    register_views(spark, sf_dir, tables=("documents",))
    # Presence-checked substitutions (functions/dialect.py:to_spark_sql)
    # so a drift of the shared body raises instead of silently no-oping.
    spark_sql = D.to_spark_sql(
        _PROV_DUCK,
        ("string_split(text, ' ')", "split(text, ' ')"),
        ("len(", "size("),
        (f"tk[{_PROV_START + 1}:{_PROV_START + _PROV_LEN}]",
         f"slice(tk, {_PROV_START + 1}, {_PROV_LEN})"),
        ("gtk[i] || ' ' || gtk[i+1] || ' ' || gtk[i+2] || ' '\n"
         "                || gtk[i+3] || ' ' || gtk[i+4]",
         "concat_ws(' ', element_at(gtk, i), element_at(gtk, i+1), "
         "element_at(gtk, i+2), element_at(gtk, i+3), "
         "element_at(gtk, i+4))"),
        ("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]\n"
         "               || ' ' || tk[i+4]",
         "concat_ws(' ', element_at(tk, i), element_at(tk, i+1), "
         "element_at(tk, i+2), element_at(tk, i+3), "
         "element_at(tk, i+4))"),
        ("FROM gens, UNNEST(generate_series(1, size(gtk) - 4)) AS g(i)",
         "FROM gens LATERAL VIEW explode(sequence(1, size(gtk) - 4)) "
         "g AS i"),
        ("FROM toks, UNNEST(generate_series(1, size(tk) - 4)) AS g(i)",
         "FROM toks LATERAL VIEW explode(sequence(1, size(tk) - 4)) "
         "g AS i"),
        ("//", "div"),
    )
    return spark.sql(spark_sql)
generation_provenance.__doc__ = """N-gram PROVENANCE of generated text — the memorization-audit
    direction of `benchmark_contamination` (that one asks "did eval
    text leak into training?"; this one asks "which training document
    did this generation come from?"): a panel of "generations"
    (deterministic {ln}-token excerpts of every {m}th doc — known
    ground truth) is attributed by joining its distinct 5-grams
    against the corpus 5-gram postings; each generation reports its
    top-attributed document, match count, coverage ratio, and whether
    attribution recovered the true source (`self_attributed` — pinned
    TRUE by construction on excerpts, since the source contains every
    excerpt 5-gram; a tie would need another doc with all {n5}
    5-grams, which first-id tie-break still resolves to the lower
    true id only if the copier has a higher id — the planted-dup-free
    fixture guarantees uniqueness).

    Scale notes (100 TB): the generation panel is bounded (a model's
    output sample, not the corpus); the join is 5-gram-blocked against
    the SAME postings `benchmark_contamination` builds — in
    production both read one materialized posting table (rare-gram
    pruned, the ExactSubstr discipline); the per-generation top-1 is
    a bounded window.""".format(
        ln=_PROV_LEN, m=_PROV_MOD, n5=_PROV_LEN - 4
    )


# ---------------------------------------------------------------------------
# blocklist phrase census: multi-word deny-list tagging (safety filter)
# ---------------------------------------------------------------------------

#: The deny-list: (phrase, severity) tiers. In production this is the
#: safety/compliance phrase list (bad-words, spam templates, SEO
#: boilerplate) — here a fixed panel of 2-3-word phrases that occur
#: organically in the fixture vocabulary at every scale factor
#: (verified: 11/12 hit at sf0.001; `sort merge join` exercises the
#: zero-hit path both engines must agree on).
_BLOCK_PHRASES: tuple[tuple[str, str], ...] = (
    ("big table scan", "high"),
    ("data line", "low"),
    ("filter window row", "medium"),
    ("hash join", "low"),
    ("key order sort", "low"),
    ("merge join", "medium"),
    ("slow query", "high"),
    ("slow scan", "high"),
    ("sort merge", "medium"),
    ("sort merge join", "high"),
    ("stream batch", "medium"),
    ("table scan", "low"),
)

_BLOCK_VALUES = ", ".join(
    f"('{p}', '{s}')" for p, s in _BLOCK_PHRASES
)

_BLOCK_DUCK = f"""
WITH dict(phrase, severity) AS (VALUES {_BLOCK_VALUES}),
toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents
),
grams AS (
  SELECT doc_id, source, tk[i] || ' ' || tk[i+1] AS g
  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS t(i)
  UNION ALL
  SELECT doc_id, source, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
  FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS t(i)
)
SELECT source, phrase, severity,
       cast(count(DISTINCT doc_id) AS BIGINT) AS docs_with,
       cast(count(*) AS BIGINT) AS hits_total
FROM grams JOIN dict ON g = phrase
GROUP BY source, phrase, severity
ORDER BY source, phrase
"""


@register("blocklist_phrase_census", _BLOCK_DUCK, tags=("curation", "text"))
def blocklist_phrase_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dict_df = spark.createDataFrame(
        list(_BLOCK_PHRASES), "phrase string, severity string"
    )
    # project the token array ONCE: split(text) referenced inside a
    # transform lambda re-evaluates per element (no common-subexpr
    # elimination across the lambda boundary) — O(tokens^2) per doc
    toks = docs.select(
        "doc_id", "source", F.split("text", " ").alias("tk")
    )
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.concat(
                F.when(
                    F.size("tk") >= 2,
                    F.expr(
                        "transform(sequence(1, size(tk) - 1), "
                        "i -> concat_ws(' ', element_at(tk, i), "
                        "element_at(tk, i + 1)))"
                    ),
                ).otherwise(F.array().cast("array<string>")),
                F.when(
                    F.size("tk") >= 3,
                    F.expr(
                        "transform(sequence(1, size(tk) - 2), "
                        "i -> concat_ws(' ', element_at(tk, i), "
                        "element_at(tk, i + 1), "
                        "element_at(tk, i + 2)))"
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("g"),
    )
    return (
        grams.join(F.broadcast(dict_df), grams.g == dict_df.phrase)
        .groupBy("source", "phrase", "severity")
        .agg(
            F.countDistinct("doc_id").alias("docs_with"),
            F.count(F.lit(1)).alias("hits_total"),
        )
        .orderBy("source", "phrase")
    )
blocklist_phrase_census.__doc__ = """Multi-word deny-list phrase census — the safety/compliance
    filter gate every production corpus passes (bad-word phrase
    lists, spam templates, SEO boilerplate): each document's word 2-
    and 3-grams are matched against a {n}-phrase severity-tiered
    blocklist; output is the (source, phrase) census with
    docs-containing and total-occurrence counts. The relational
    Aho-Corasick substitute: the dictionary side is the automaton,
    the gram explode is the text scan.

    Scale notes (100 TB): the deny list is KBs — it BROADCASTS, so
    matching is a map-side hash-join over the gram stream inside
    whole-stage codegen with no corpus shuffle; non-matching grams
    (the overwhelming majority) die map-side. The only shuffle is
    the bounded (source, phrase, severity) rollup, at most
    |sources| x |dict| groups. countDistinct(doc_id) partial-aggregates
    per partition because matched grams arrive doc-contiguous from
    the explode.""".format(n=len(_BLOCK_PHRASES))


# ---------------------------------------------------------------------------
# source ablation contrast: leave-one-source-out corpus metrics, one pass
# ---------------------------------------------------------------------------

_ABLATE_DUCK = """
WITH per_src AS (
  SELECT source,
         cast(count(*) AS BIGINT) AS n_docs,
         cast(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT source, n_docs, n_tokens,
         sum(n_docs) OVER () AS t_docs,
         sum(n_tokens) OVER () AS t_tokens,
         sum(n_tokens * ln(n_tokens)) OVER () AS t_nlogn
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       round(cast(n_tokens AS DOUBLE) / t_tokens, 4) AS token_share,
       round(cast(t_tokens - n_tokens AS DOUBLE)
             / nullif(t_docs - n_docs, 0), 4) AS mean_len_excl,
       round(cast(t_tokens - n_tokens AS DOUBLE)
             / nullif(t_docs - n_docs, 0)
             - cast(t_tokens AS DOUBLE) / t_docs, 4) AS delta_mean_len,
       round(ln(t_tokens - n_tokens)
             - (t_nlogn - n_tokens * ln(n_tokens))
               / (t_tokens - n_tokens), 4) AS mix_entropy_excl,
       round((ln(t_tokens - n_tokens)
              - (t_nlogn - n_tokens * ln(n_tokens))
                / (t_tokens - n_tokens))
             - (ln(t_tokens) - t_nlogn / t_tokens), 4) AS delta_entropy
FROM tot
ORDER BY source
"""


@register(
    "source_ablation_contrast", _ABLATE_DUCK, tags=("curation", "sampling")
)
def source_ablation_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy()
    t_docs = F.sum("n_docs").over(w)
    t_tokens = F.sum("n_tokens").over(w)
    t_nlogn = F.sum(F.col("n_tokens") * F.log("n_tokens")).over(w)
    excl_tokens = (t_tokens - F.col("n_tokens")).cast("double")
    excl_docs = F.nullif((t_docs - F.col("n_docs")).cast("double"), F.lit(0.0))
    h_excl = F.log(t_tokens - F.col("n_tokens")) - (
        t_nlogn - F.col("n_tokens") * F.log("n_tokens")
    ) / (t_tokens - F.col("n_tokens"))
    h_all = F.log(t_tokens) - t_nlogn / t_tokens
    return (
        per_src.select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / t_tokens, 4).alias(
                "token_share"
            ),
            F.round(excl_tokens / excl_docs, 4).alias("mean_len_excl"),
            F.round(
                excl_tokens / excl_docs
                - t_tokens.cast("double") / t_docs,
                4,
            ).alias("delta_mean_len"),
            F.round(h_excl, 4).alias("mix_entropy_excl"),
            F.round(h_excl - h_all, 4).alias("delta_entropy"),
        )
        .orderBy("source")
    )
source_ablation_contrast.__doc__ = """Leave-one-source-out ablation contrast in ONE corpus pass —
    the data-mixture diagnostic behind source-ablation studies
    ("what does the corpus look like without source S?"): for every
    source, the mean document length and the token-mass mixture
    entropy of the corpus EXCLUDING that source, plus the deltas vs
    the full corpus. Removal of a dominant source collapses entropy
    (negative delta); removal of a long-doc source drops the mean.

    The algebra is what makes it one-pass: both ablated metrics
    decompose into TOTAL-minus-OWN terms —
    mean_excl = (T_tok - c_tok) / (T_doc - c_doc) and
    H_excl = ln(T_tok - c_tok) - (sum(c ln c) - c_tok ln c_tok)
    / (T_tok - c_tok) — so one groupBy(source) plus unbounded window
    totals over the |sources|-row aggregate answers every ablation
    at once; no per-source corpus rescan (the naive form is
    |sources| full scans).

    Scale notes (100 TB): the corpus scan computes two additive
    per-source sums map-side; the window runs over the bounded
    per-source table (hundreds of rows). The single-partition
    unbounded window is safe at that cardinality."""


# ---------------------------------------------------------------------------
# DoReMi-lite: iterative domain-mixture reweighting (Xie et al. 2023)
# ---------------------------------------------------------------------------

#: exponentiated-gradient rounds / step size / uniform-smoothing mass
_DOREMI_T = 5
_DOREMI_ETA = 0.5
_DOREMI_C = 0.2


def _doremi_rounds_duck() -> str:
    """T unrolled exponentiated-gradient rounds, each MATERIALIZED
    (each round is referenced twice — by the next round and by the
    trajectory union — so inline CTEs re-derive the whole prefix and
    go exponential in T)."""
    parts = []
    for t in range(1, _DOREMI_T + 1):
        prev = f"r{t - 1}"
        parts.append(f""",
r{t} AS MATERIALIZED (
  SELECT source, xent, avg_xent,
         (1 - {_DOREMI_C}) * (w * exp({_DOREMI_ETA} * (xent - avg_xent)))
             / sum(w * exp({_DOREMI_ETA} * (xent - avg_xent))) OVER ()
         + {_DOREMI_C} / (count(*) OVER ()) AS w
  FROM {prev}
)""")
    return "".join(parts)


_DOREMI_TRAJECTORY = " UNION ALL ".join(
    f"SELECT {t} AS step, source, xent, w FROM r{t}"
    for t in range(_DOREMI_T + 1)
)

_DOREMI_DUCK = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
lm AS MATERIALIZED (
  SELECT tok, cast(count(*) AS DOUBLE) AS c FROM toks GROUP BY tok
),
tot AS (SELECT sum(c) AS t FROM lm),
src_xent AS MATERIALIZED (
  SELECT s.source, -sum(ln(l.c / t.t)) / count(*) AS xent
  FROM toks s JOIN lm l ON l.tok = s.tok CROSS JOIN tot t
  GROUP BY s.source
),
r0 AS MATERIALIZED (
  SELECT source, xent, avg(xent) OVER () AS avg_xent,
         cast(1 AS DOUBLE) / (count(*) OVER ()) AS w
  FROM src_xent
){_doremi_rounds_duck()}
SELECT step, source, round(xent, 4) AS xent, round(w, 6) AS weight
FROM ({_DOREMI_TRAJECTORY})
ORDER BY step, source
"""


@register(
    "doremi_mix_reweight", _DOREMI_DUCK, tags=("curation", "sampling")
)
def doremi_mix_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    lm = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    total = F.sum("c").over(Window.partitionBy())
    lm = lm.select("tok", "c", total.alias("t"))
    src_xent = (
        toks.join(lm, "tok")
        .groupBy("source")
        .agg(
            (-F.sum(F.log(F.col("c") / F.col("t"))) / F.count(F.lit(1)))
            .alias("xent")
        )
    )
    w_all = Window.partitionBy()
    state = src_xent.select(
        "source",
        "xent",
        F.avg("xent").over(w_all).alias("avg_xent"),
        (F.lit(1.0) / F.count(F.lit(1)).over(w_all)).alias("w"),
    ).localCheckpoint(eager=False)
    trajectory = state.select(
        F.lit(0).alias("step"), "source", "xent", "w"
    )
    for t in range(1, _DOREMI_T + 1):
        boost = F.col("w") * F.exp(
            _DOREMI_ETA * (F.col("xent") - F.col("avg_xent"))
        )
        state = state.select(
            "source",
            "xent",
            "avg_xent",
            (
                (1 - _DOREMI_C) * boost / F.sum(boost).over(w_all)
                + _DOREMI_C / F.count(F.lit(1)).over(w_all)
            ).alias("w"),
        ).localCheckpoint(eager=False)
        trajectory = trajectory.union(
            state.select(F.lit(t).alias("step"), "source", "xent", "w")
        )
    return trajectory.select(
        "step",
        "source",
        F.round("xent", 4).alias("xent"),
        F.round("w", 6).alias("weight"),
    ).orderBy("step", "source")
doremi_mix_reweight.__doc__ = """DoReMi-style ADAPTIVE domain reweighting (Xie et al. 2023,
    "Doremi: Optimizing Data Mixtures") — the iterative counterpart
    of the static `source_mix_weights`/`mix_schedule_plan`: each
    source's excess loss under a proxy model drives {t} rounds of the
    Group-DRO exponentiated-gradient update
    w <- (1-c) * normalize(w * exp(eta * (xent - avg))) + c/k.
    The proxy model is the corpus-wide unigram LM (per-source
    cross-entropy in nats/token); the uniform-smoothing mass c is
    what makes the rounds genuinely stateful (without it the product
    telescopes to one closed form). Output is the full (step, source)
    weight trajectory, step 0 = uniform.

    Scale notes (100 TB): ONE corpus pass builds the LM counts and
    the per-source cross-entropy (token join is vocab-bounded — the
    LM side broadcasts in production); the {t} EG rounds run over the
    |sources|-row state table (window ops over tens of rows), each
    localCheckpointed so the unrolled lineage stays linear (the
    DuckDB oracle marks every round MATERIALIZED for the same
    reason).""".format(t=_DOREMI_T)


# ---------------------------------------------------------------------------
# blocklist scrub: the deny-list REMOVAL transform, self-checking
# ---------------------------------------------------------------------------

#: leftmost-LONGEST emulation under leftmost-first alternation: order
#: alternatives by descending word count, then descending char
#: length, then alphabetically — a longer phrase starting at the same
#: position always precedes its own prefix ("sort merge join" before
#: "sort merge"), so both RE2 (DuckDB) and java.util.regex (Spark)
#: pick the longer match.
_BLOCK_RE = (
    r"\b("
    + "|".join(
        p
        for p in sorted(
            (p for p, _ in _BLOCK_PHRASES),
            key=lambda p: (-len(p.split()), -len(p), p),
        )
    )
    + r")\b"
)


def _scrub_sql(cnt: str, gflag: str, rx: str) -> str:
    """One body, two dialects (the `_redact_sql` pattern): ``cnt``
    counts regex matches, ``gflag`` makes DuckDB's regexp_replace
    global, ``rx`` is the alternation with dialect-appropriate
    escaping (Spark SQL string literals consume one backslash level —
    '\\b' would be a BACKSPACE — so its variant doubles them)."""
    return f"""
WITH scrubbed AS (
  SELECT doc_id, source, text,
         regexp_replace(text, '{rx}', '<blocked>'{gflag}) AS clean
  FROM documents
),
scan AS (
  SELECT source,
         {cnt.format(col="text", re=rx)} AS hits,
         {cnt.format(col="clean", re=rx)} AS residual,
         {cnt.format(col="clean", re="<blocked>")} AS tags,
         CASE WHEN clean = text THEN 1 ELSE 0 END AS unchanged
  FROM scrubbed
)
SELECT source,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(sum(hits) AS BIGINT) AS phrases_scrubbed,
       cast(sum(tags) AS BIGINT) AS tags_inserted,
       cast(sum(residual) AS BIGINT) AS residual_matches,
       cast(sum(unchanged) AS BIGINT) AS docs_unchanged,
       cast(sum(1 - unchanged) AS BIGINT) AS docs_scrubbed
FROM scan GROUP BY source ORDER BY source
"""


_SCRUB_DUCK = _scrub_sql(
    "len(regexp_extract_all({col}, '{re}'))", ", 'g'", _BLOCK_RE
)
_SCRUB_SPARK = _scrub_sql(
    "regexp_count({col}, '{re}')", "", _BLOCK_RE.replace("\\", "\\\\")
)


@register(
    "blocklist_scrub_roundtrip", _SCRUB_DUCK, tags=("curation", "text")
)
def blocklist_scrub_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import register_views

    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(_SCRUB_SPARK)
blocklist_scrub_roundtrip.__doc__ = """The deny-list SCRUB pass itself, self-checking
    (`blocklist_phrase_census` counts exposure; this one removes it
    and PROVES the removal — the `pii_redaction_roundtrip`
    discipline applied to multi-word phrases): every deny-list
    occurrence is replaced with a `<blocked>` tag under
    leftmost-LONGEST semantics (alternation ordered longest-first, so
    `sort merge join` scrubs as ONE phrase, not its two overlapping
    sub-phrases), and the output row carries the proof obligations —
    residual_matches (post-scrub re-scan, must be 0), tag
    conservation (tags_inserted == phrases_scrubbed under the same
    scan semantics), and clean-document integrity (docs_unchanged:
    a doc with no match is byte-identical).

    Note the deliberate semantic split: the census counts EVERY
    occurrence including overlaps (exposure accounting); the scrub
    counts leftmost-longest non-overlapping matches (what a single
    replace pass can remove) — the two numbers answer different
    questions and are both pinned by tests.

    Scale notes (100 TB): pure map — one regexp_replace + three
    regexp counts per row inside whole-stage codegen, one bounded
    per-source rollup. In production the deny list compiles into one
    alternation (or an Aho-Corasick automaton via mapInPandas when
    the list outgrows regex); the relational shape is unchanged."""


# ---------------------------------------------------------------------------
# generation diversity: distinct-n + self-overlap of the generation panel
# ---------------------------------------------------------------------------

def _gdiv_sql(
    split: str,
    size: str,
    slice_: str,
    elem: str,
    gram2: str,
    gram3: str,
    scan: str,
) -> str:
    """Shared generation-diversity statement; the two dialects differ
    only in the array/lateral snippets passed in (the `_jl_body`
    discipline — one body, explicit per-dialect fills, so an edit
    cannot silently diverge the engines the way the former chained
    ``.replace()`` rewrite could — round-12 ADVICE)."""
    return f"""
WITH toks AS (
  SELECT doc_id, {split} AS tk FROM documents
  WHERE {size.format(x=split)} >= 5
),
gens AS (
  SELECT doc_id AS gen_id,
         {slice_} AS gtk
  FROM toks
  WHERE doc_id % {_PROV_MOD} = 0
    AND {size.format(x='tk')} >= {_PROV_START + _PROV_LEN}
),
g1 AS (
  SELECT gen_id, {elem.format(i='i')} AS g
  {scan.format(n='')}
),
g2 AS (
  SELECT gen_id, {gram2} AS g
  {scan.format(n=' - 1')}
),
g3 AS (
  SELECT gen_id, {gram3} AS g
  {scan.format(n=' - 2')}
),
d1 AS (SELECT gen_id, cast(count(DISTINCT g) AS DOUBLE) / count(*) AS r
       FROM g1 GROUP BY gen_id),
d2 AS (SELECT gen_id, cast(count(DISTINCT g) AS DOUBLE) / count(*) AS r
       FROM g2 GROUP BY gen_id),
d3 AS (SELECT gen_id, cast(count(DISTINCT g) AS DOUBLE) / count(*) AS r
       FROM g3 GROUP BY gen_id),
gsets AS (SELECT DISTINCT gen_id, g FROM g3),
gsz AS (SELECT gen_id, cast(count(*) AS BIGINT) AS n FROM gsets
        GROUP BY gen_id),
ovl AS (
  SELECT a.gen_id, b.gen_id AS other_id,
         cast(count(*) AS BIGINT) AS shared
  FROM gsets a JOIN gsets b ON a.g = b.g AND a.gen_id <> b.gen_id
  GROUP BY a.gen_id, b.gen_id
),
selfb AS (
  SELECT o.gen_id,
         max(cast(o.shared AS DOUBLE)
             / (sa.n + sb.n - o.shared)) AS max_jac
  FROM ovl o
  JOIN gsz sa ON sa.gen_id = o.gen_id
  JOIN gsz sb ON sb.gen_id = o.other_id
  GROUP BY o.gen_id
)
SELECT d1.gen_id,
       round(d1.r, 4) AS distinct1,
       round(d2.r, 4) AS distinct2,
       round(d3.r, 4) AS distinct3,
       round(coalesce(s.max_jac, 0), 4) AS max_self_jaccard
FROM d1
JOIN d2 ON d2.gen_id = d1.gen_id
JOIN d3 ON d3.gen_id = d1.gen_id
LEFT JOIN selfb s ON s.gen_id = d1.gen_id
ORDER BY d1.gen_id
"""


_GDIV_DUCK = _gdiv_sql(
    split="string_split(text, ' ')",
    size="len({x})",
    slice_=f"tk[{_PROV_START + 1}:{_PROV_START + _PROV_LEN}]",
    elem="gtk[{i}]",
    gram2="gtk[i] || ' ' || gtk[i+1]",
    gram3="gtk[i] || ' ' || gtk[i+1] || ' ' || gtk[i+2]",
    scan="FROM gens, UNNEST(generate_series(1, len(gtk){n})) AS t(i)",
)

_GDIV_SPARK = _gdiv_sql(
    split="split(text, ' ')",
    size="size({x})",
    slice_=f"slice(tk, {_PROV_START + 1}, {_PROV_LEN})",
    elem="element_at(gtk, {i})",
    gram2="concat_ws(' ', element_at(gtk, i), element_at(gtk, i+1))",
    gram3=(
        "concat_ws(' ', element_at(gtk, i), element_at(gtk, i+1), "
        "element_at(gtk, i+2))"
    ),
    scan="FROM gens LATERAL VIEW explode(sequence(1, size(gtk){n})) t AS i",
)


@register("generation_diversity", _GDIV_DUCK, tags=("curation", "text"))
def generation_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import register_views

    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(_GDIV_SPARK)
generation_diversity.__doc__ = """Diversity metrics of the generation panel — the standard
    text-generation evals next to `generation_provenance`'s
    attribution: per generation, distinct-1/2/3 (Li et al. 2016 —
    the type/token ratio at n-gram grain that collapses under
    repetitive decoding) and max pairwise 3-gram Jaccard against
    every OTHER generation (the self-BLEU shape: how much the model
    repeats ITSELF across samples; max, not mean, because one clone
    pair is the failure signal). Same deterministic panel as
    provenance ({ln}-token excerpts of every {m}th doc).

    Scale notes (100 TB): the panel is a model's eval sample —
    bounded (hundreds to thousands), never the corpus; distinct-n is
    per-generation local; the pairwise stage is gram-blocked
    (equi-join on shared 3-grams, never all-pairs) over the bounded
    panel.""".format(ln=_PROV_LEN, m=_PROV_MOD)
