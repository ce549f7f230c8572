"""Benchmark decontamination: flag training documents that share word
n-grams with a held-out evaluation set.

Standard LLM-corpus hygiene (the reference has no analog; this is part
of the beyond-reference training-data surface alongside dedup/
similarity): an eval suite is tiny relative to a 100 TB corpus, so the
scale shape is fixed — build the eval n-gram set once, broadcast it,
and stream the corpus past it.  No shuffle touches document bodies;
the only exchange is the per-doc hit-count aggregate (map-side
combined, one row per doc).

Grams are 60-bit INTEGER rolling hashes of per-token md5s, never
strings: one md5 per token, then 4 affine combines per 5-gram — no
5-token string concat, and the broadcast set / join keys are 8-byte
longs.  The DuckDB oracle computes the identical hash, so results are
bit-identical even in the (negligible) collision case.

Eval membership here is synthesized deterministically (doc_id % 50 = 0)
since the test corpus ships no split column; in production the eval
grams come from the benchmark files themselves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table, spread
from .dedup import MINHASH_P, SHINGLE_C, _md5_int, _sql_md5_int, _SQL_TOKS
from ..functions.text import memo_col, tokens

#: Contamination gram width.  5 word-grams is the common published
#: choice (e.g. GPT-3 appendix used 13-gram / 8-gram variants; small
#: synthetic docs need a width that actually occurs).
NGRAM_N = 5

#: A train doc is contaminated when this fraction of its distinct
#: n-grams appears in the eval set.
CONTAM_THRESHOLD = 0.30


@memo_col
def _gram5_hashes() -> Column:
    """th (token-hash array) + k (its size) → distinct 5-gram rolling
    hashes; docs with < 5 tokens fall back to the whole-text hash so
    they still participate.  4 zip_with passes over offset slices —
    each side evaluated once per row (see operators/dedup.py on why
    per-element lambda references would be O(n²))."""
    g = F.expr("slice(th, 1, k-4)")
    for off in range(2, NGRAM_N + 1):
        g = F.zip_with(
            g,
            F.expr(f"slice(th, {off}, k-4)"),
            lambda a, b: (a * SHINGLE_C + b) % MINHASH_P,
        )
    whole = F.array(_md5_int("ng#", F.concat_ws(" ", F.col("toks"))) % MINHASH_P)
    return F.array_distinct(F.when(F.col("k") >= NGRAM_N, g).otherwise(whole))


def grams_for(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, grams): the distinct 5-gram hash set
    per document — shared by the one-shot decontamination queries and
    the composed curation pipeline (operators/curation.py)."""
    d = docs.select("doc_id", tokens("text").alias("toks"))
    d = d.select("doc_id", "toks", _gram_token_hashes().alias("th"))
    d = d.select("doc_id", "toks", "th", F.size("th").alias("k"))
    return d.select("doc_id", _gram5_hashes().alias("grams"))


@memo_col
def _gram_token_hashes() -> Column:
    """Per-token md5 hash transform over ``toks`` — constant tree,
    built once per process (memo_col; the gram pass runs per advance
    in the incremental pipelines)."""
    return F.transform("toks", lambda t: _md5_int("ng#", t) % MINHASH_P)


def _gram_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grams_for(
        spread(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
        )
    )


# DuckDB twin: same md5 per token, same rolling combine, same fallback.
_SQL_TH = (
    "list_transform(toks, x -> " + _sql_md5_int("'ng#'", "x") + f" % {MINHASH_P})"
)


def _sql_gram5() -> str:
    expr = "th[i+1]"
    for off in range(2, NGRAM_N + 1):
        expr = f"(({expr}) * {SHINGLE_C} + th[i+{off}]) % {MINHASH_P}"
    whole = _sql_md5_int("'ng#'", "COALESCE(array_to_string(toks, ' '), '')") + f" % {MINHASH_P}"
    return (
        f"CASE WHEN len(th) >= {NGRAM_N} THEN "
        f"list_distinct(list_transform(range(len(th)-{NGRAM_N - 1}), i -> {expr})) "
        f"ELSE [{whole}] END"
    )


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training document: distinct 5-gram count, how many of those
    grams occur anywhere in the eval split, the overlap ratio, and the
    contamination verdict.  Only docs with at least one hit are
    returned (the clean tail is the overwhelming majority at scale).

    Plan shape: eval grams → explode → distinct → broadcast hash join
    against the exploded train grams (stream side never shuffles);
    hit counts via partial-aggregated groupBy(doc_id).
    """
    # cache: the gram frame feeds BOTH the eval-set build and the train
    # scan — without it the md5+combine pipeline runs twice.  Grams are
    # longs (~8 bytes × grams/doc), tiny relative to input text.
    g = _gram_df(spark, sf_dir).cache()
    eval_grams = (
        g.filter(F.col("doc_id") % 50 == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train = g.filter(F.col("doc_id") % 50 != 0)
    exploded = train.select(
        "doc_id",
        F.size("grams").cast("bigint").alias("n_grams"),
        F.explode("grams").alias("gram"),
    )
    hits = (
        exploded.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    ratio = F.col("n_hit") / F.col("n_grams")
    return hits.select(
        "doc_id",
        "n_grams",
        "n_hit",
        F.round(ratio, 6).alias("overlap_ratio"),
        (ratio >= CONTAM_THRESHOLD).alias("contaminated"),
    )


def _sql_gram_cte() -> str:
    return f"""
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
tht AS (SELECT doc_id, toks, {_SQL_TH} AS th FROM t),
g AS (SELECT doc_id, {_sql_gram5()} AS grams FROM tht),
eval_grams AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 0
),
train AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
  FROM g WHERE doc_id % 50 <> 0
),
hits AS (
  SELECT doc_id, n_grams, COUNT(*) AS n_hit
  FROM train JOIN eval_grams USING (gram)
  GROUP BY doc_id, n_grams
)"""


ORACLE_DECONTAM = f"""
WITH {_sql_gram_cte()}
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
  CAST(n_hit AS BIGINT) AS n_hit,
  ROUND(n_hit / CAST(n_grams AS DOUBLE), 6) AS overlap_ratio,
  (n_hit / CAST(n_grams AS DOUBLE)) >= {CONTAM_THRESHOLD} AS contaminated
FROM hits
"""


def contamination_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level roll-up of the decontamination scan, per source:
    docs scanned, docs with any eval overlap, docs over the
    contamination threshold, and the worst overlap ratio.  The report
    a data-curation run actually publishes; one extra tiny aggregate
    on top of the per-doc scan.
    """
    d = load_table(spark, sf_dir, "documents")
    per_doc = decontaminate_ngrams(spark, sf_dir)
    joined = d.filter(F.col("doc_id") % 50 != 0).select("doc_id", "source").join(
        per_doc, "doc_id", "left"
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.count("n_hit").alias("n_overlapping"),
        F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_contaminated"),
        F.round(F.max(F.coalesce(F.col("overlap_ratio"), F.lit(0.0))), 6).alias(
            "max_overlap"
        ),
    )


ORACLE_CONTAM_SUMMARY = f"""
WITH {_sql_gram_cte()},
per_doc AS (
  SELECT doc_id, n_hit, n_hit / CAST(n_grams AS DOUBLE) AS ratio
  FROM hits
)
SELECT d.source,
  CAST(COUNT(*) AS BIGINT) AS n_train_docs,
  CAST(COUNT(p.n_hit) AS BIGINT) AS n_overlapping,
  CAST(COALESCE(SUM(CASE WHEN p.ratio >= {CONTAM_THRESHOLD} THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_contaminated,
  ROUND(MAX(COALESCE(p.ratio, 0)), 6) AS max_overlap
FROM documents d LEFT JOIN per_doc p USING (doc_id)
WHERE d.doc_id % 50 <> 0
GROUP BY d.source
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    decontaminate_ngrams: ORACLE_DECONTAM,
    contamination_summary: ORACLE_CONTAM_SUMMARY,
}
