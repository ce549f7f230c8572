"""Text-analysis queries over the ``documents`` table (beyond-reference
training-data scope): token counting, language ID, quality scoring,
fingerprinting — each with a DuckDB oracle twin.

All expression-only (functions/text.py): the hot path is regex/array
built-ins inside whole-stage codegen.  At 100 TB of text these queries
are scan-bound map-only jobs (the only shuffles are the final tiny
aggregates), which is the optimal shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    bpe_ish_token_count,
    language_id,
    quality_score,
    token_count,
    tokens,
)
from ..sources.registry import load_table, spread
from .pandas_ops import _oracle_round6
from .ranking import bucketed_topk_rank, offset_global_rank

#: DuckDB expression for the engine's whitespace tokens (lower/trim/split).
_SQL_TOKENS = (
    "COALESCE(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''), [])"
)


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens + BPE-ish regex
    tokens (GPT-2 pretokenizer shape) + char length."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        "n_chars",
    ).orderBy("doc_id")


ORACLE_TEXT_STATS = f"""
SELECT doc_id,
  CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
  CAST(coalesce(len(regexp_extract_all(text,
    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+')), 0)
    AS BIGINT) AS n_bpe_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_measured,
  n_chars
FROM documents ORDER BY doc_id
"""


def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID vs the table's labeled ``lang`` —
    confusion-matrix counts.  (zh has no stopword list → 'und'.)"""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        d.select(language_id("text").alias("lang_pred"), "lang")
        .groupBy("lang_pred", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_pred", "lang")
    )


def _sql_lang_scores() -> str:
    parts = []
    for lang, words in STOPWORDS.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        parts.append(
            f"len(list_filter(toks, x -> x IN ({inlist}))) AS score_{lang}"
        )
    return ",\n    ".join(parts)


def _sql_lang_case() -> str:
    langs = list(STOPWORDS)
    best = "GREATEST(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    whens = "\n      ".join(
        f"WHEN score_{lg} = {best} AND {best} > 0 THEN '{lg}'" for lg in langs
    )
    return f"CASE {whens} ELSE 'und' END"


ORACLE_LANG_CONFUSION = f"""
WITH t AS (
  SELECT lang, {_SQL_TOKENS} AS toks FROM documents
),
s AS (
  SELECT lang,
    {_sql_lang_scores()}
  FROM t
)
SELECT {_sql_lang_case()} AS lang_pred, lang, COUNT(*) AS n
FROM s GROUP BY lang_pred, lang ORDER BY lang_pred, lang
"""


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score in [0,1] per document (length / alpha
    ratio / punctuation burst / stopword ratio / word length blend)."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return d.select("doc_id", quality_score("text").alias("quality")).orderBy("doc_id")


_ALL_STOP = sorted({w for ws in STOPWORDS.values() for w in ws})

ORACLE_QUALITY = f"""
WITH base AS (
  SELECT doc_id, trim(text) AS t,
    CAST(length(trim(text)) AS DOUBLE) AS n_chars,
    COALESCE(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''), []) AS toks
  FROM documents
),
m AS (
  SELECT doc_id, t, n_chars,
    GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS n_tok,
    CAST(length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
    CAST(length(regexp_replace(t, '[A-Za-z0-9\\s\\x0b]', '', 'g')) AS DOUBLE) AS punct,
    CAST(len(list_filter(toks,
      x -> x IN ({", ".join(f"'{w}'" for w in _ALL_STOP)}))) AS DOUBLE) AS stop_hits
  FROM base
),
sc AS (
  SELECT doc_id, t, n_chars,
    LEAST(n_chars / 500.0, 1.0) AS len_score,
    alpha / GREATEST(n_chars, 1.0) AS alpha_ratio,
    1.0 - LEAST(punct / GREATEST(n_chars, 1.0) * 4, 1.0) AS punct_penalty,
    LEAST(stop_hits / n_tok * 3, 1.0) AS stop_score,
    CASE WHEN n_chars / n_tok >= 3 AND n_chars / n_tok <= 10
         THEN 1.0 ELSE 0.5 END AS wlen_score
  FROM m
)
SELECT doc_id,
  CASE WHEN t IS NULL OR n_chars = 0 THEN 0.0
       ELSE ROUND(len_score * 0.25 + alpha_ratio * 0.25 + punct_penalty * 0.2
                  + stop_score * 0.2 + wlen_score * 0.1, 6) END AS quality
FROM sc ORDER BY doc_id
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints of whitespace/case-normalized text: an
    md5 hex fingerprint (oracle-checkable — DuckDB lacks xxhash64) and
    the n_chars of the normalized form.  The engine's scale path keys
    exact dedup on xxhash64 of the same normalization (64-bit int beats
    a 32-hex string for shuffle width); equal-by-md5 ⇔ equal-by-xxhash
    modulo collisions, so the oracle check covers the semantics."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.concat_ws(" ", tokens("text"))
    return d.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("fp_md5"),
        F.length(norm).cast("long").alias("n_norm_chars"),
    ).orderBy("doc_id")


ORACLE_FINGERPRINTS = f"""
WITH n AS (
  SELECT doc_id, COALESCE(array_to_string({_SQL_TOKENS}, ' '), '') AS norm FROM documents
)
SELECT doc_id, md5(norm) AS fp_md5,
       CAST(length(norm) AS BIGINT) AS n_norm_chars
FROM n ORDER BY doc_id
"""


def top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 tokens by document frequency: explode the
    token set per doc (the UDTF/lateral-view surface), count, top-k
    with deterministic tie-break.

    Scale shape: explode → partial count per partition → one shuffle of
    (token, partial) pairs → top-k.  Token cardinality ≪ corpus size,
    so the shuffle is tiny relative to the scan.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.array_distinct(tokens("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(20)
    )


ORACLE_TOP_NGRAMS = f"""
WITH t AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS token FROM documents
)
SELECT token, COUNT(*) AS doc_freq
FROM t GROUP BY token
ORDER BY doc_freq DESC, token LIMIT 20
"""


def corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data curation pipeline in one plan: per
    source — raw docs, docs surviving the quality gate (score ≥ 0.4
    AND predicted lang != 'und'), survivors of exact dedup keep-first
    among the quality-passed, and their total whitespace tokens.

    This is the production shape: filters compose scan-side, the dedup
    keep is one shuffle on the fingerprint, and the final rollup is a
    tiny aggregate — the whole gate is 2 shuffles regardless of corpus
    size.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    scored = d.select(
        "doc_id",
        "source",
        token_count("text").alias("n_tok"),
        quality_score("text").alias("q"),
        language_id("text").alias("lp"),
        F.md5(F.concat_ws(" ", tokens("text")).cast("binary")).alias("fp"),
    ).cache()  # three consumers (raw/pass/keep counts) — score once
    passed = scored.filter((F.col("q") >= 0.4) & (F.col("lp") != "und"))
    from pyspark.sql import Window as W

    keep = (
        passed.withColumn(
            "rn", F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
    )
    raw_counts = scored.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    pass_counts = passed.groupBy("source").agg(F.count(F.lit(1)).alias("n_quality"))
    keep_counts = keep.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tok").alias("kept_tokens"),
    )
    return (
        raw_counts.join(pass_counts, "source", "left")
        .join(keep_counts, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
        )
        .orderBy("source")
    )


ORACLE_QUALITY_GATE = f"""
WITH base AS (
  SELECT doc_id, source, trim(text) AS t,
    CAST(length(trim(text)) AS DOUBLE) AS n_chars,
    {_SQL_TOKENS} AS toks
  FROM documents
),
m AS (
  SELECT doc_id, source, t, n_chars, toks,
    CAST(len(toks) AS BIGINT) AS n_tok,
    GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS n_tok_d,
    CAST(length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
    CAST(length(regexp_replace(t, '[A-Za-z0-9\\s\\x0b]', '', 'g')) AS DOUBLE) AS punct,
    CAST(len(list_filter(toks,
      x -> x IN ({", ".join(f"'{w}'" for w in _ALL_STOP)}))) AS DOUBLE) AS stop_hits,
    md5(COALESCE(array_to_string(toks, ' '), '')) AS fp,
    {_sql_lang_scores()}
  FROM base
),
scored AS (
  SELECT doc_id, source, n_tok, fp,
    CASE WHEN t IS NULL OR n_chars = 0 THEN 0.0
      ELSE ROUND(
        LEAST(n_chars / 500.0, 1.0) * 0.25
        + (alpha / GREATEST(n_chars, 1.0)) * 0.25
        + (1.0 - LEAST(punct / GREATEST(n_chars, 1.0) * 4, 1.0)) * 0.2
        + LEAST(stop_hits / n_tok_d * 3, 1.0) * 0.2
        + CASE WHEN n_chars / n_tok_d >= 3 AND n_chars / n_tok_d <= 10
               THEN 1.0 ELSE 0.5 END * 0.1, 6) END AS q,
    {_sql_lang_case()} AS lp
  FROM m
),
passed AS (SELECT * FROM scored WHERE q >= 0.4 AND lp <> 'und'),
keep AS (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM passed
),
raw_counts AS (SELECT source, COUNT(*) AS n_raw FROM scored GROUP BY source),
pass_counts AS (SELECT source, COUNT(*) AS n_quality FROM passed GROUP BY source),
keep_counts AS (
  SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
  FROM keep WHERE rn = 1 GROUP BY source
)
SELECT r.source, r.n_raw,
  COALESCE(p.n_quality, 0) AS n_quality,
  COALESCE(k.n_kept, 0) AS n_kept,
  COALESCE(k.kept_tokens, 0) AS kept_tokens
FROM raw_counts r
LEFT JOIN pass_counts p ON r.source = p.source
LEFT JOIN keep_counts k ON r.source = k.source
ORDER BY r.source
"""


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signal: per document, the share
    of 3-gram shingles taken by the single most-frequent shingle —
    high ratios flag boilerplate/spam for training-data filtering.

    explode → per-(doc, shingle) count → per-doc max/sum: two partial-
    aggregated shuffles keyed by doc_id; no document bodies move.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    from ..functions.text import shingles

    ex = d.select(
        "doc_id", F.explode(shingles("text", 3)).alias("sh")
    )
    per_sh = ex.groupBy("doc_id", "sh").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_sh.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_shingles"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_ratio"),
        )
        .orderBy("doc_id")
    )


ORACLE_REPETITION = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
sh AS (
  -- three-branch shingle CASE exactly like functions/text.shingles:
  -- a ZERO-token doc yields NO shingles and drops out (the old
  -- two-branch form emitted a [NULL] row for it and kept the doc —
  -- found by the differential fuzzer on a NULL-text corpus)
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
    list_transform(range(len(toks)-2),
                   i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
    ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM t
),
per_sh AS (SELECT doc_id, sh, COUNT(*) AS c FROM sh GROUP BY doc_id, sh)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_shingles,
       COUNT(*) AS n_distinct,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_ratio
FROM per_sh GROUP BY doc_id ORDER BY doc_id
"""


#: URL/email scrub patterns (shared literally with the oracle).
_URL_RE = r"https?://[^\s]+"
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/email scrubbing (training-data hygiene): documents get a
    deterministic URL/email injected for doc_id % 10 == 0 (the corpus
    has none — both engines inject identically so the scrub path is
    actually exercised), then counts + scrubbed lengths per source.

    Scan-side regexp_replace; the rollup shuffles one row per source.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    injected = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" see https://example.com/x?id="),
            F.col("doc_id").cast("string"),
            F.lit(" or mail u"),
            F.col("doc_id").cast("string"),
            F.lit("@test.org now"),
        ),
    ).otherwise(F.col("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(injected, _URL_RE, "<URL>"), _EMAIL_RE, "<EMAIL>"
    )
    return (
        d.select(
            "source",
            injected.alias("t"),
            scrubbed.alias("s"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("t").rlike(_URL_RE), 1).otherwise(0)).alias("n_url"),
            F.sum(F.when(F.col("t").rlike(_EMAIL_RE), 1).otherwise(0)).alias(
                "n_email"
            ),
            F.sum(F.length("t")).alias("len_before"),
            F.sum(F.length("s")).alias("len_after"),
        )
        .orderBy("source")
    )


ORACLE_PII_SCRUB = f"""
WITH inj AS (
  SELECT source,
    CASE WHEN doc_id % 10 = 0 THEN
      text || ' see https://example.com/x?id=' || CAST(doc_id AS VARCHAR)
           || ' or mail u' || CAST(doc_id AS VARCHAR) || '@test.org now'
    ELSE text END AS t
  FROM documents
),
scr AS (
  SELECT source, t,
    regexp_replace(regexp_replace(t, '{_URL_RE}', '<URL>', 'g'),
                   '{_EMAIL_RE}', '<EMAIL>', 'g') AS s
  FROM inj
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN regexp_matches(t, '{_URL_RE}') THEN 1 ELSE 0 END) AS BIGINT) AS n_url,
  CAST(SUM(CASE WHEN regexp_matches(t, '{_EMAIL_RE}') THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
  CAST(SUM(length(t)) AS BIGINT) AS len_before,
  CAST(SUM(length(s)) AS BIGINT) AS len_after
FROM scr GROUP BY source ORDER BY source
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (docs 0-99), with corpus
    statistics computed over the WHOLE corpus.

    Plan: explode tokens → per-(doc, term) count (tf) → per-term doc
    frequency (df) by re-aggregating the tf table (no second scan of
    the text) → join tf×df on the term → rank within doc.  At 100 TB
    the df table is vocabulary-sized — typically small enough to
    broadcast; here it flows through a shuffle join, which is also the
    fallback when the vocabulary doesn't fit (Zipf tail).

    FP parity: ranking never touches the float score — ties are
    resolved on (tf DESC, df ASC, term), all integers/strings, so an
    ulp of ln() divergence between engines cannot reorder rows.  The
    ``tfidf`` value itself (tf · ln(N/df), rounded to 6 dp) is the one
    float output.
    """
    # NO spread here: tokenize-explode is cheap relative to the two
    # groupBy shuffles that follow — an extra full-row exchange
    # measured 0.66s → 1.15s at sf0.1
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_id") < 100)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term")
    )
    tfidf = F.round(
        F.col("tf").cast("double")
        * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
        6,
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            tfidf.alias("tfidf"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


ORACLE_TFIDF = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
    ROUND(CAST(tf.tf AS DOUBLE)
          * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 6) AS tfidf,
    row_number() OVER (PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, dfreq.df ASC, tf.term) AS rank
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
  WHERE tf.doc_id < 100
)
SELECT doc_id, term, tf, df, tfidf, rank
FROM scored WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Stop-shingle (boilerplate) detection
# ---------------------------------------------------------------------------

#: A 3-gram shingle is "boilerplate" when it appears in more than this
#: fraction of documents.  This is the stop-shingle cap the dedup
#: module's scale notes reference: shingles this common generate
#: O(df²) candidate pairs in the inverted-index join while carrying no
#: near-dup signal, so the dedup path drops them; this query is the
#: analysis that picks the threshold.
STOP_SHINGLE_DOC_FRAC = 0.05


def stop_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate profile: distinct shingles, how many
    are corpus-wide stop-shingles (doc-frequency > 5% of docs), and
    the boilerplate fraction.

    Plan: one pass builds per-doc distinct shingles (cached — feeds
    the doc-frequency aggregate AND the per-doc join); the stop set is
    the high-df tail of the frequency aggregate, joined back broadcast
    (small by construction — only shingles above the df cap).  Shuffle
    carries (shingle, partial-count) pairs, never text bodies.
    """
    from ..functions.text import shingles

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    per_doc = d.select(
        "doc_id", F.array_distinct(shingles("text")).alias("sh")
    ).cache()
    n_docs = per_doc.count()  # tiny action; reuses the cache it warms
    exploded = per_doc.select("doc_id", F.explode("sh").alias("s"))
    stop = (
        exploded.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > n_docs * STOP_SHINGLE_DOC_FRAC)
        .select("s")
    )
    hits = (
        exploded.join(F.broadcast(stop), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_stop"))
    )
    return (
        per_doc.select("doc_id", F.size("sh").alias("n_shingles"))
        .join(hits.select("doc_id", "n_stop"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("n_stop", F.lit(0)).cast("long").alias("n_stop"),
            F.round(
                F.coalesce("n_stop", F.lit(0))
                / F.greatest(F.col("n_shingles"), F.lit(1)),
                6,
            ).alias("stop_fraction"),
        )
    )


# single source of truth for the 3-gram shingle SQL twin (keep in
# lock-step with functions/text.shingles — see dedup.py)
from .dedup import _SQL_SHINGLES as _SQL_SHINGLES3  # noqa: E402

ORACLE_STOP_SHINGLES = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
g AS (SELECT doc_id, list_distinct({_SQL_SHINGLES3}) AS sh FROM t),
e AS (SELECT doc_id, unnest(sh) AS s FROM g),
stop AS (
  SELECT s FROM e GROUP BY s
  HAVING COUNT(*) > (SELECT COUNT(*) FROM documents) * {STOP_SHINGLE_DOC_FRAC}
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_stop
  FROM e JOIN stop USING (s) GROUP BY doc_id
)
SELECT g.doc_id,
  CAST(len(g.sh) AS BIGINT) AS n_shingles,
  CAST(COALESCE(h.n_stop, 0) AS BIGINT) AS n_stop,
  ROUND(COALESCE(h.n_stop, 0) / GREATEST(CAST(len(g.sh) AS DOUBLE), 1.0), 6)
    AS stop_fraction
FROM g LEFT JOIN hits h USING (doc_id)
"""


# ---------------------------------------------------------------------------
# inverted index / champion lists (IR-style retrieval prep)
# ---------------------------------------------------------------------------

CHAMPIONS_K = 5


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term posting summary with champion lists: document
    frequency, total term frequency, and the top-``CHAMPIONS_K`` docs
    by (tf DESC, doc_id ASC) — the precomputed high-score postings that
    let a retrieval engine score only champions for most queries.

    Scale shape: explode → (term, doc) count (one shuffle, map-side
    combined) → per-TERM window for champions (partition = term, so the
    rank never sees more than one term's postings) → per-term rollup.
    The full posting list is never collected: only the K champions per
    term materialize into an array.  At 100 TB the (term, doc) frame is
    the standard inverted-index build; skew (stopword terms) is handled
    by the same salting pattern as ``salted_user_counts``.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), "doc_id")
    ranked = tf.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.max("tf").alias("max_tf"),
            # emitted as a ','-joined string, not array<long>: the
            # driver's differential gate canonicalizes with a pandas
            # lexsort that cannot sort list cells, so a scalar column
            # carries the same information driver-checkably
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("rk") <= CHAMPIONS_K,
                            F.struct(F.col("rk"), F.col("doc_id")),
                        )
                    )
                )
                .getField("doc_id")
                .cast("array<string>"),
                ",",
            ).alias("champions"),
        )
        .orderBy("term")
    )


ORACLE_INVERTED_INDEX = f"""
WITH tf AS (
  SELECT term, doc_id, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents)
  GROUP BY term, doc_id
),
r AS (
  SELECT term, doc_id, tf,
    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rk
  FROM tf
)
SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
  MAX(tf) AS max_tf,
  array_to_string(list_transform(
    list_sort(list([rk, doc_id]) FILTER (WHERE rk <= {CHAMPIONS_K})),
    p -> p[2]), ',') AS champions
FROM r GROUP BY term ORDER BY term
"""


# ---------------------------------------------------------------------------
# corpus statistics: Zipf fit + cross-source overlap
# ---------------------------------------------------------------------------


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of log(freq) = a + s·log(rank) over the term
    frequency distribution — the Zipf exponent ``s`` (≈ −1 for natural
    language) is a cheap corpus-health signal: heavily duplicated or
    templated corpora bend the tail visibly.

    Shape: term counts (one shuffle) → exact global rank via per-count
    windows + broadcast offsets (ranking.offset_global_rank — every
    term needs its rank here, and the offset table is one row per
    DISTINCT count value, which grows ~√mass under Zipf: metadata) →
    single-row regression aggregate.  The regression runs on exact
    long counts pushed through double logs; both engines evaluate the
    identical closed-form slope/intercept from the same 5 sums, so
    rounding to 6 is stable.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    freq = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = offset_global_rank(
        freq, "c", group_desc=True, tie_order=[F.col("term")], rank_col="rk"
    )
    xy = ranked.select(
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # degenerate corpora (≤1 distinct term, or every term at the same
    # rank-log) have a zero regression denominator: the fit is
    # undefined → NULL on both engines (Spark ANSI mode would raise
    # DIVIDE_BY_ZERO; found by the differential fuzzer on a
    # single-token corpus)
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den != 0, (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den)
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            F.when((den != 0) & (F.col("n") > 0), (F.col("sy") - slope * F.col("sx")) / F.col("n")),
            6,
        ).alias("zipf_intercept"),
    )


ORACLE_ZIPF = f"""
WITH freq AS (
  SELECT term, COUNT(*) AS c
  FROM (SELECT unnest({_SQL_TOKENS}) AS term FROM documents)
  GROUP BY term
),
xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, term) AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y
  FROM freq
),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_terms,
  ROUND(CASE WHEN n * sxx - sx * sx <> 0
        THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS zipf_slope,
  ROUND(CASE WHEN n * sxx - sx * sx <> 0 AND n > 0
        THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n END, 6)
    AS zipf_intercept
FROM s
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct normalized-content fingerprints appear in BOTH —
    the provenance-level dedup signal (which corpora copy from each
    other) that drives source-weighting decisions.

    Shape: distinct (fingerprint, source) pairs — the ONLY full-data
    pass, shuffling 16-byte hashes — then a self-equi-join on the
    fingerprint over the deduped pair set and a count per source pair.
    The join input is |distinct contents × sources|, already tiny
    relative to the corpus, and it's an equi join on the hash (no
    cross product).
    """
    d = load_table(spark, sf_dir, "documents")
    # augmented corpus (same convention as the dedup operators): docs
    # with doc_id < 25 are mirrored under source 'mirror', so the
    # operator provably reports the planted cross-source overlap —
    # the raw synthetic corpus has no cross-source duplicates at all
    corpus = d.select("text", "source").unionByName(
        d.filter(F.col("doc_id") < 25).select(
            "text", F.lit("mirror").alias("source")
        )
    )
    fp = corpus.select(
        F.md5(F.concat_ws(" ", tokens("text")).cast("binary")).alias("fp"),
        "source",
    ).distinct()
    a, b = fp.alias("a"), fp.withColumnRenamed("source", "source_b").alias("b")
    return (
        a.join(b, "fp")
        .filter(F.col("source") < F.col("source_b"))
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count(F.lit(1)).alias("shared_contents"))
        .orderBy("source_a", "source_b")
    )


ORACLE_SOURCE_OVERLAP = f"""
WITH corpus AS (
  SELECT text, source FROM documents
  UNION ALL
  SELECT text, 'mirror' AS source FROM documents WHERE doc_id < 25
),
fp AS (
  SELECT DISTINCT md5(COALESCE(array_to_string({_SQL_TOKENS}, ' '), '')) AS fp, source
  FROM corpus
)
SELECT a.source AS source_a, b.source AS source_b,
  COUNT(*) AS shared_contents
FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2 ORDER BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

#: Fixed query for the oracle-checked retrieval ranking.
BM25_TERMS = ("join", "hash", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10


def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for a fixed 3-term query —
    ranked retrieval with document-length normalization, the scoring
    function TF-IDF (see :func:`tfidf_top_terms`) feeds in real search.

    Plan shape at scale: term postings (tf) come from ONE tokenize →
    filter-to-query-terms → groupBy pass, so the shuffled tf table is
    |query terms| × |matching docs| — query-sized, not corpus-sized.
    Corpus stats (N, avg doc length) reduce to one broadcast row; df
    per term is a 3-row broadcast.  The only corpus-wide work is the
    scan itself.

    FP parity: idf/score arithmetic runs on exact integer counts cast
    to double in a fixed expression order mirrored by the oracle;
    ranking uses the 9-dp-rounded score with doc_id tie-break so
    ulp-level ln() divergence cannot reorder rows (same policy as the
    similarity operators).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("double").alias("dl")
    )
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )

    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    tf = (
        tok.filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") * (BM25_K1 + 1) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / (F.col("sum_dl") / F.col("n_docs")))
    )
    contrib = tf.join(F.broadcast(dfreq), "term").join(d, "doc_id").crossJoin(
        F.broadcast(stats)
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(F.sum(idf * norm), 9).alias("score_key"),
        F.round(F.sum(idf * norm), 6).alias("bm25"),
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
    )
    # two-level top-k (ranking.py): scored is one row per matching doc
    # — corpus-sized for common query terms — so prune via bucket-local
    # ranks before the single ordered window.
    ranked = bucketed_topk_rank(
        scored,
        [F.col("score_key").desc(), F.col("doc_id")],
        BM25_TOPK,
        bucket_key="doc_id",
    )
    return ranked.select(
        "doc_id", "bm25", "n_terms_hit", F.col("rank").cast("long").alias("rank")
    )


ORACLE_BM25 = f"""
WITH d AS (
  SELECT doc_id, CAST(len({_SQL_TOKENS}) AS DOUBLE) AS dl FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) AS sum_dl FROM d
),
tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
  GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
    ROUND(SUM(
      ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
      * tf.tf * ({BM25_K1} + 1) / (tf.tf + {BM25_K1} *
          (1 - {BM25_B} + {BM25_B} * d.dl / (s.sum_dl / s.n_docs)))
    ), 9) AS score_key,
    ROUND(SUM(
      ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
      * tf.tf * ({BM25_K1} + 1) / (tf.tf + {BM25_K1} *
          (1 - {BM25_B} + {BM25_B} * d.dl / (s.sum_dl / s.n_docs)))
    ), 6) AS bm25,
    CAST(COUNT(*) AS BIGINT) AS n_terms_hit
  FROM tf
  JOIN dfreq USING (term) JOIN d USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
),
r AS (
  SELECT doc_id, bm25, n_terms_hit,
    row_number() OVER (ORDER BY score_key DESC, doc_id) AS rank
  FROM scored
)
SELECT doc_id, bm25, n_terms_hit, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {BM25_TOPK}
"""


# ---------------------------------------------------------------------------
# Bigram LM perplexity proxy (corpus-trained quality signal)
# ---------------------------------------------------------------------------


def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a word-bigram LM trained on the
    corpus itself — the CCNet-style LM-quality signal: templated or
    garbled documents score far from the corpus norm.

    Model: P(w2|w1) = (c2(w1 w2) + 1) / (c1(w1) + V)  (add-one
    smoothing; c1 counts occurrences as bigram-first, V = vocabulary
    size), ppl = exp(−mean ln P) over the document's bigrams.

    Scale shape: bigrams are built SCAN-SIDE from the token array
    (zip_with over two slices — no self-join on position), so training
    is one groupBy over (w1, w2) and scoring is one join of the
    exploded bigrams against the model.  The model is vocab²-bounded:
    broadcast here, shuffle join at real-vocab scale (the standard LM
    join shape).

    FP parity: each bigram's ln P is rounded to 9 dp and summed as
    DECIMAL — bit-identical across engines regardless of summation
    order — then the mean/exp run on the final scalar only.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    doc_bg = d.select("doc_id", F.explode(bigrams).alias("bg"))

    # NOTE on the tempting "single-pass" rewrite: pre-aggregating
    # (doc_id, bg) counts and deriving c2 from that table was measured
    # 2× SLOWER at sf1 (4.3 s vs 2.0 s) — most (doc, bigram) pairs are
    # unique, so the extra shuffle gets no map-side combine win and
    # costs more than the second scan it saves, while the scoring path
    # below is a shuffle-free broadcast join either way.  Two explode
    # passes over the scan is the right shape here (contrast
    # dsir_importance_weights, where the fused aggregate IS a win
    # because both LM tables come from the same groupBy key).
    c2 = doc_bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    # c1 (occurrences as bigram-first) derives from c2 by re-aggregating
    # the VOCAB²-bounded model table — not by re-scanning the corpus:
    # Σ_bg[w1 ...] c2(bg) ≡ count of w1-first bigrams, definitionally.
    c1 = (
        c2.groupBy(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"))
        .agg(F.sum("c2").alias("c1"))
    )
    vocab = d.select(F.explode(toks).alias("t")).agg(
        F.count_distinct("t").cast("double").alias("v")
    )

    model = (
        c2.withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.round(
                F.log(
                    (F.col("c2").cast("double") + 1.0)
                    / (F.col("c1").cast("double") + F.col("v"))
                ),
                9,
            )
            .cast("decimal(20,9)")
            .alias("lnp"),
        )
    )
    scored = (
        doc_bg.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lnp").alias("sum_lnp"),
        )
    )
    ppl = F.round(
        F.exp(-(F.col("sum_lnp").cast("double")) / F.col("n_bigrams").cast("double")),
        6,
    )
    return scored.select("doc_id", "n_bigrams", ppl.alias("ppl")).orderBy("doc_id")


ORACLE_LM_PPL = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
),
bg AS (
  SELECT doc_id,
    unnest(CASE WHEN len(toks) >= 2
      THEN list_transform(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                          p -> p[1] || ' ' || p[2])
      ELSE [] END) AS bg
  FROM t
),
c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
c1 AS (
  SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1 FROM bg GROUP BY w1
),
v AS (
  SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
  FROM (SELECT unnest(toks) AS tok FROM t)
),
model AS (
  SELECT c2.bg,
    CAST(ROUND(ln((CAST(c2.c2 AS DOUBLE) + 1.0) / (CAST(c1.c1 AS DOUBLE) + v.v)), 9)
         AS DECIMAL(20,9)) AS lnp
  FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1 CROSS JOIN v
),
scored AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lnp) AS sum_lnp
  FROM bg JOIN model USING (bg) GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
  ROUND(exp(-(CAST(sum_lnp AS DOUBLE)) / CAST(n_bigrams AS DOUBLE)), 6) AS ppl
FROM scored ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Dataset card: one-row corpus summary
# ---------------------------------------------------------------------------


def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card rollup: ONE row summarizing the corpus —
    document count, exact-dup rate (fingerprint cardinality), language
    mix, mean quality, and token-count distribution.  Every released
    training corpus ships this table; here it is ONE scan with every
    per-document signal computed scan-side and a single aggregate
    (count_distinct adds the only extra shuffle).

    Parity: mean quality sums the per-doc 6-dp-rounded scores as
    DECIMAL (order-independent), percentiles use the exact
    interpolated definition both engines share.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    norm = F.concat_ws(" ", tokens("text"))
    proj = d.select(
        F.md5(norm.cast("binary")).alias("fp"),
        language_id("text").alias("lang_pred"),
        quality_score("text").cast("decimal(10,6)").alias("q"),
        token_count("text").alias("ntok"),
    )
    lang_aggs = [
        F.sum(F.when(F.col("lang_pred") == lg, 1).otherwise(0))
        .cast("long")
        .alias(f"n_{lg}")
        for lg in (*STOPWORDS, "und")
    ]
    agg = proj.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("fp").alias("n_unique"),
        F.sum("q").alias("q_sum"),
        F.sum("ntok").alias("tok_sum"),
        F.round(F.expr("percentile(ntok, 0.5)"), 6).alias("p50_tokens"),
        F.round(F.expr("percentile(ntok, 0.9)"), 6).alias("p90_tokens"),
        *lang_aggs,
    )
    n = F.col("n_docs").cast("double")
    return agg.select(
        "n_docs",
        "n_unique",
        F.round(F.lit(1.0) - F.col("n_unique").cast("double") / n, 6).alias(
            "dup_rate"
        ),
        F.round(F.col("q_sum").cast("double") / n, 6).alias("mean_quality"),
        F.round(F.col("tok_sum").cast("double") / n, 6).alias("mean_tokens"),
        "p50_tokens",
        "p90_tokens",
        *[F.col(f"n_{lg}") for lg in (*STOPWORDS, "und")],
    )


ORACLE_DATASET_CARD = f"""
WITH base AS (
  SELECT doc_id, trim(text) AS t,
    CAST(length(trim(text)) AS DOUBLE) AS n_chars,
    {_SQL_TOKENS} AS toks
  FROM documents
),
m AS (
  SELECT doc_id, t, n_chars, toks,
    GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS n_tok,
    CAST(length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
    CAST(length(regexp_replace(t, '[A-Za-z0-9\\s\\x0b]', '', 'g')) AS DOUBLE) AS punct,
    CAST(len(list_filter(toks,
      x -> x IN ({", ".join(f"'{w}'" for w in _ALL_STOP)}))) AS DOUBLE) AS stop_hits,
    {_sql_lang_scores()}
  FROM base
),
perdoc AS (
  SELECT
    md5(COALESCE(array_to_string(toks, ' '), '')) AS fp,
    {_sql_lang_case()} AS lang_pred,
    CAST(CASE WHEN t IS NULL OR n_chars = 0 THEN 0.0
      ELSE ROUND(
        LEAST(n_chars / 500.0, 1.0) * 0.25
        + (alpha / GREATEST(n_chars, 1.0)) * 0.25
        + (1.0 - LEAST(punct / GREATEST(n_chars, 1.0) * 4, 1.0)) * 0.2
        + LEAST(stop_hits / n_tok * 3, 1.0) * 0.2
        + (CASE WHEN n_chars / n_tok >= 3 AND n_chars / n_tok <= 10
                THEN 1.0 ELSE 0.5 END) * 0.1, 6) END AS DECIMAL(10,6)) AS q,
    CAST(len(toks) AS BIGINT) AS ntok
  FROM m
)
SELECT
  COUNT(*) AS n_docs,
  COUNT(DISTINCT fp) AS n_unique,
  ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
    AS dup_rate,
  ROUND(CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_quality,
  ROUND(CAST(SUM(ntok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens,
  ROUND(quantile_cont(ntok, 0.5), 6) AS p50_tokens,
  ROUND(quantile_cont(ntok, 0.9), 6) AS p90_tokens,
  {", ".join(f"CAST(SUM(CASE WHEN lang_pred = '{lg}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{lg}" for lg in (*STOPWORDS, "und"))}
FROM perdoc
"""


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine similarity (inverted-index pair scoring)
# ---------------------------------------------------------------------------

TFIDF_COS_DOCS = 200   # bounded query set, same convention as the ANN ops
TFIDF_COS_TOPK = 20


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar document pairs among docs 0-199 by SPARSE
    TF-IDF cosine — the inverted-index complement of the dense
    embedding similarity family: pairs are generated by a self-join on
    the TERM (posting lists), so only documents sharing vocabulary are
    ever scored, and the dot product accumulates per shared term.

    Scale shape: the (term, doc, weight) frame is the standard
    inverted index; the pair join's cost is Σ_term df², which is why
    production paths cap stopword-like terms first
    (``stop_shingle_stats`` picks the threshold) — the synthetic
    vocabulary here is tiny, so the cap is omitted and the doc subset
    bounds the work instead.

    FP parity: weights are ``tf · ln(N/df)`` on exact integer inputs;
    squared/product terms round to 9 dp and sum as DECIMAL, so norms
    and dots are bit-identical regardless of accumulation order.
    """
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("n"))
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.filter(F.col("doc_id") < TFIDF_COS_DOCS)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * F.log(F.col("n").cast("double") / F.col("df").cast("double"))
            ).alias("w"),
        )
    )
    norms = (
        w.groupBy("doc_id")
        .agg(F.sum(F.round(F.col("w") * F.col("w"), 9).cast("decimal(28,9)")).alias("s"))
        .select("doc_id", F.sqrt(F.col("s").cast("double")).alias("norm"))
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(
            F.sum(
                F.round(F.col("a.w") * F.col("b.w"), 9).cast("decimal(28,9)")
            ).alias("dot"),
            F.count(F.lit(1)).alias("shared_terms"),
        )
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    sim = F.col("dot").cast("double") / (F.col("na.norm") * F.col("nb.norm"))
    # zero-norm docs (every term corpus-universal → idf 0 everywhere,
    # e.g. a corpus of identical documents) have no defined cosine:
    # exclude them rather than divide by zero (Spark ANSI raises;
    # found by the 4× differential-fuzz soak on a two-identical-doc
    # corpus)
    scored = (
        dots.join(na, F.col("d1") == F.col("na.doc_id"))
        .join(nb, F.col("d2") == F.col("nb.doc_id"))
        .filter((F.col("na.norm") > 0) & (F.col("nb.norm") > 0))
        .select(
            "d1",
            "d2",
            "shared_terms",
            F.round(sim, 9).alias("sim_key"),
            F.round(sim, 6).alias("sim"),
        )
    )
    return (
        scored.orderBy(F.col("sim_key").desc(), "d1", "d2")
        .limit(TFIDF_COS_TOPK)
        .select("d1", "d2", "shared_terms", "sim")
    )


ORACLE_TFIDF_COSINE = f"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
  ) GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
    CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS w
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
  WHERE tf.doc_id < {TFIDF_COS_DOCS}
),
norms AS (
  SELECT doc_id, sqrt(CAST(SUM(CAST(ROUND(w * w, 9) AS DECIMAL(28,9))) AS DOUBLE)) AS norm
  FROM w GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
    SUM(CAST(ROUND(a.w * b.w, 9) AS DECIMAL(28,9))) AS dot,
    COUNT(*) AS shared_terms
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY d1, d2
),
scored AS (
  SELECT d1, d2, shared_terms,
    ROUND(CAST(dot AS DOUBLE) / (na.norm * nb.norm), 9) AS sim_key,
    ROUND(CAST(dot AS DOUBLE) / (na.norm * nb.norm), 6) AS sim
  FROM dots
  JOIN norms na ON d1 = na.doc_id
  JOIN norms nb ON d2 = nb.doc_id
  WHERE na.norm > 0 AND nb.norm > 0
)
SELECT d1, d2, shared_terms, sim
FROM scored ORDER BY sim_key DESC, d1, d2 LIMIT {TFIDF_COS_TOPK}
"""


# ---------------------------------------------------------------------------
# Gopher quality-rule census
# ---------------------------------------------------------------------------

#: Gopher rule constants (Rae et al. 2021, Table A1).  The symbol and
#: repetition thresholds are the published ones; the word-count floor is
#: the published 50.
# 60-bit md5 hash helpers shared with the dedup operators (single
# definition keeps the Spark/DuckDB twins in lock-step).
from .dedup import _md5_int, _sql_md5_int  # noqa: E402

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WLEN = 3.0
GOPHER_MAX_WLEN = 10.0
GOPHER_ALPHA_FRAC = 0.80  # ≥80% of words contain an alphabetic char
GOPHER_MIN_STOP = 2       # ≥2 distinct stop words present
GOPHER_MAX_SYM = 0.10     # '#'/'...' per word
GOPHER_MAX_TOP_TOK = 0.20 # most frequent token's share of the doc


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule census per source: how many documents pass
    each published Gopher pre-filter (Rae et al. 2021), and all of
    them jointly — the rule-by-rule diagnostic a curation run reads
    before choosing thresholds.

    Rules: word count in [{50}, {100k}]; mean word length in [3, 10];
    ≥80% of words alphabetic; ≥2 distinct stop words; symbol ('#',
    '...') rate ≤0.1/word; top-token share ≤20% (the single-token
    degenerate-repetition rule — Gopher's line/paragraph repetition
    rules need line structure this corpus lacks and live in
    repetition_stats).

    Scale shape: five rules are pure scan-side expressions.  The
    top-token rule is the only shuffle: per-(doc, token-hash) counts →
    per-doc max — two hash aggregates carrying 8-byte keys — joined
    back to the flags on doc_id.  Rollup output is source-cardinality.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens("text")
    stop_arr = F.array(*[F.lit(w) for w in _ALL_STOP])
    flags = d.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tok"),
        F.length(F.array_join(toks, "")).cast("double").alias("tok_chars"),
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))).alias("n_alpha_tok"),
        F.size(F.array_intersect(F.array_distinct(toks), stop_arr)).alias("n_stop"),
        (
            # NULL-safe to match the oracle's COALESCE(text, ''):
            # without it a NULL-text doc gets NULL n_sym → NULL p_sym
            # → silently dropped from the n_pass_symbol sum
            F.regexp_count(F.coalesce(F.col("text"), F.lit("")), F.lit(r"#"))
            + F.regexp_count(
                F.coalesce(F.col("text"), F.lit("")), F.lit(r"\.\.\.")
            )
        ).alias("n_sym"),
    )
    ex = d.select("doc_id", F.explode(toks).alias("g")).select(
        "doc_id", _md5_int("gr#", F.col("g")).alias("h")
    )
    rep = (
        ex.groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_tok"))
    )
    n_tok_d = F.col("n_tok").cast("double")
    mean_wlen = F.col("tok_chars") / F.greatest(n_tok_d, F.lit(1.0))
    p_wordcount = (F.col("n_tok") >= GOPHER_MIN_WORDS) & (
        F.col("n_tok") <= GOPHER_MAX_WORDS
    )
    p_wordlen = (mean_wlen >= GOPHER_MIN_WLEN) & (mean_wlen <= GOPHER_MAX_WLEN)
    p_alpha = F.col("n_alpha_tok").cast("double") >= F.lit(GOPHER_ALPHA_FRAC) * n_tok_d
    p_stop = F.col("n_stop") >= GOPHER_MIN_STOP
    p_sym = F.col("n_sym").cast("double") <= F.lit(GOPHER_MAX_SYM) * n_tok_d
    p_rep = (F.col("n_tok") > 0) & (
        F.coalesce(F.col("max_tok"), F.lit(0)).cast("double")
        <= F.lit(GOPHER_MAX_TOP_TOK) * n_tok_d
    )

    def cnt(p, name):
        return F.sum(p.cast("long")).alias(name)

    joined = flags.join(rep, "doc_id", "left").select(
        "source",
        p_wordcount.alias("pw"),
        p_wordlen.alias("pl"),
        p_alpha.alias("pa"),
        p_stop.alias("ps"),
        p_sym.alias("py"),
        p_rep.alias("pr"),
        (p_wordcount & p_wordlen & p_alpha & p_stop & p_sym & p_rep).alias("pall"),
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt(F.col("pw"), "n_pass_wordcount"),
            cnt(F.col("pl"), "n_pass_wordlen"),
            cnt(F.col("pa"), "n_pass_alpha"),
            cnt(F.col("ps"), "n_pass_stop"),
            cnt(F.col("py"), "n_pass_symbol"),
            cnt(F.col("pr"), "n_pass_repetition"),
            cnt(F.col("pall"), "n_pass_all"),
        )
        .select(
            "source",
            "n_docs",
            "n_pass_wordcount",
            "n_pass_wordlen",
            "n_pass_alpha",
            "n_pass_stop",
            "n_pass_symbol",
            "n_pass_repetition",
            "n_pass_all",
            F.round(
                F.col("n_pass_all").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("pct_pass_all"),
        )
        .orderBy("source")
    )


ORACLE_GOPHER = f"""
WITH t AS (
  SELECT doc_id, source, text, {_SQL_TOKENS} AS toks FROM documents
),
flags AS (
  SELECT doc_id, source,
    len(toks) AS n_tok,
    CAST(length(COALESCE(array_to_string(toks, ''), '')) AS DOUBLE) AS tok_chars,
    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha_tok,
    len(list_intersect(list_distinct(toks),
        [{", ".join(f"'{w}'" for w in _ALL_STOP)}])) AS n_stop,
    (len(regexp_extract_all(COALESCE(text, ''), '#'))
     + len(regexp_extract_all(COALESCE(text, ''), '\\.\\.\\.'))) AS n_sym
  FROM t
),
rep AS (
  SELECT doc_id, MAX(c) AS max_tok FROM (
    SELECT doc_id, h, COUNT(*) AS c FROM (
      SELECT doc_id, {_sql_md5_int("'gr#'", "g")} AS h
      FROM (SELECT doc_id, unnest(toks) AS g FROM t)
    ) GROUP BY doc_id, h
  ) GROUP BY doc_id
),
j AS (
  SELECT f.source,
    (f.n_tok >= {GOPHER_MIN_WORDS} AND f.n_tok <= {GOPHER_MAX_WORDS}) AS pw,
    (f.tok_chars / GREATEST(CAST(f.n_tok AS DOUBLE), 1.0) >= {GOPHER_MIN_WLEN}
     AND f.tok_chars / GREATEST(CAST(f.n_tok AS DOUBLE), 1.0) <= {GOPHER_MAX_WLEN}) AS pl,
    (CAST(f.n_alpha_tok AS DOUBLE) >= {GOPHER_ALPHA_FRAC} * f.n_tok) AS pa,
    (f.n_stop >= {GOPHER_MIN_STOP}) AS ps,
    (CAST(f.n_sym AS DOUBLE) <= {GOPHER_MAX_SYM} * f.n_tok) AS py,
    (f.n_tok > 0 AND CAST(COALESCE(r.max_tok, 0) AS DOUBLE)
       <= {GOPHER_MAX_TOP_TOK} * f.n_tok) AS pr
  FROM flags f LEFT JOIN rep r ON f.doc_id = r.doc_id
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN pw THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_wordcount,
  CAST(SUM(CASE WHEN pl THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_wordlen,
  CAST(SUM(CASE WHEN pa THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_alpha,
  CAST(SUM(CASE WHEN ps THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_stop,
  CAST(SUM(CASE WHEN py THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_symbol,
  CAST(SUM(CASE WHEN pr THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_repetition,
  CAST(SUM(CASE WHEN pw AND pl AND pa AND ps AND py AND pr THEN 1 ELSE 0 END)
       AS BIGINT) AS n_pass_all,
  ROUND(CAST(SUM(CASE WHEN pw AND pl AND pa AND ps AND py AND pr THEN 1 ELSE 0 END)
        AS DOUBLE) / COUNT(*), 6) AS pct_pass_all
FROM j GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# token-distribution entropy (quality signal)
# ---------------------------------------------------------------------------


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    classic repetition/diversity quality signal (templated or looping
    text scores far below natural prose).

    H = ln(n) − Σ c·ln(c) / n over per-token counts c.  Scale shape:
    explode → (doc_id, tok) count (map-side combine) → per-doc
    aggregate; every shuffle key contains doc_id so the layout is
    reused.  FP parity: each c·ln(c) term is rounded to 9 dp and
    summed as DECIMAL(38,9) — order-independent across engines — and
    the final entropy math runs on that exact scalar only (same scheme
    as lm_perplexity).  Empty docs survive via the left join back to
    the base table: n_tokens = 0, entropy NULL.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tk = spread(d, "doc_id").select("doc_id", F.explode(tokens("text")).alias("tok"))
    cnt = tk.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    c_d = F.col("c").cast("double")
    term = F.round(c_d * F.log(c_d), 9).cast("decimal(38,9)")
    per = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(term).alias("sclnc"),
    )
    n_d = F.col("n_tokens").cast("double")
    h = F.log(n_d) - F.col("sclnc").cast("double") / n_d
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_unique"), F.lit(0)).cast("long").alias("n_unique"),
            F.when(F.col("n_tokens") > 0, F.round(h, 6)).alias("entropy"),
            F.when(
                F.col("n_unique") > 1,
                F.round(h / F.log(F.col("n_unique").cast("double")), 6),
            ).alias("norm_entropy"),
        )
        .orderBy("doc_id")
    )


ORACLE_TOKEN_ENTROPY = f"""
WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents),
cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok),
per AS (
  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_unique,
    SUM(CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
        AS DECIMAL(38,9))) AS sclnc
  FROM cnt GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(COALESCE(p.n_unique, 0) AS BIGINT) AS n_unique,
  CASE WHEN p.n_tokens > 0 THEN
    ROUND(ln(CAST(p.n_tokens AS DOUBLE))
          - CAST(p.sclnc AS DOUBLE) / CAST(p.n_tokens AS DOUBLE), 6) END AS entropy,
  CASE WHEN p.n_unique > 1 THEN
    ROUND((ln(CAST(p.n_tokens AS DOUBLE))
           - CAST(p.sclnc AS DOUBLE) / CAST(p.n_tokens AS DOUBLE))
          / ln(CAST(p.n_unique AS DOUBLE)), 6) END AS norm_entropy
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# term co-occurrence PMI (collocation mining)
# ---------------------------------------------------------------------------

#: vocabulary cap and minimum co-occurrence support for the PMI query
PMI_VOCAB = 40
PMI_MIN_AB = 5


def term_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between top-vocabulary terms at the
    document level: pmi(a,b) = ln(n_ab·N / (n_a·n_b)) over document
    frequencies — the standard collocation / topic-association miner.

    Scale shape: the vocabulary is a top-k (deterministic
    ``df DESC, term`` tie-break) and BROADCAST, so the per-doc term
    set after the vocab semi-join is ≤ |vocab| rows; the co-occurrence
    self-join on doc_id therefore emits ≤ C(|vocab|,2) pairs per doc —
    bounded per row, never corpus-quadratic.  The pair aggregate is
    |vocab|²-bounded, map-side combined.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dt = spread(d, "doc_id").select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
    )
    dfreq = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    vocab = dfreq.orderBy(F.col("df").desc(), "term").limit(PMI_VOCAB)
    dtv = dt.join(F.broadcast(vocab), "term")
    a = dtv.select("doc_id", F.col("term").alias("term_a"), F.col("df").alias("n_a"))
    b = dtv.select("doc_id", F.col("term").alias("term_b"), F.col("df").alias("n_b"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    pmi = F.round(
        F.log(
            (F.col("n_ab").cast("double") * F.col("n_docs").cast("double"))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ),
        6,
    )
    return (
        co.crossJoin(F.broadcast(n_docs))
        .filter(F.col("n_ab") >= PMI_MIN_AB)
        .select("term_a", "term_b", "n_a", "n_b", "n_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(30)
    )


ORACLE_TERM_PMI = f"""
WITH t AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS term FROM documents
),
dfreq AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
vocab AS (SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT {PMI_VOCAB}),
dtv AS (SELECT t.doc_id, t.term, v.df FROM t JOIN vocab v USING (term)),
co AS (
  SELECT a.term AS term_a, b.term AS term_b, a.df AS n_a, b.df AS n_b,
    COUNT(*) AS n_ab
  FROM dtv a JOIN dtv b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2, 3, 4
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT term_a, term_b, n_a, n_b, n_ab,
  ROUND(ln((CAST(n_ab AS DOUBLE) * CAST(n_docs AS DOUBLE))
           / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6) AS pmi
FROM co, n
WHERE n_ab >= {PMI_MIN_AB}
ORDER BY pmi DESC, term_a, term_b LIMIT 30
"""


# ---------------------------------------------------------------------------
# Dunning log-likelihood (G²) keyness
# ---------------------------------------------------------------------------

KEYNESS_VOCAB = 50


def keyness_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning (1993) log-likelihood keyness of terms between a focus
    subcorpus (doc_id % 3 == 0 — a deterministic stand-in for "this
    source/day/shard") and the background: which words are
    over/under-represented, the standard drift detector run when a new
    crawl lands next to the standing corpus.

    G² = 2·(a·ln(a/E_a) + b·ln(b/E_b)) with expected counts
    E_a = (a+b)·N_a/(N_a+N_b), E_b = (a+b)·N_b/(N_a+N_b); zero cells
    contribute 0.  Scale shape: one token-count aggregate per side,
    vocabulary top-k broadcast (same bound as term_cooccurrence_pmi),
    the G² arithmetic on |vocab| rows.  ln() on integer-derived ratios
    — the same cross-engine contract as pmi/zipf_fit (identical IEEE
    expression trees, 6-dp shortest-repr rounding at the edge).
    """
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    toks = d.select(
        (F.col("doc_id") % 3 == 0).alias("is_focus"),
        F.explode(tokens("text")).alias("term"),
    )
    counts = toks.groupBy("term").agg(
        F.coalesce(
            F.sum(F.when(F.col("is_focus"), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("a"),
        F.coalesce(
            F.sum(F.when(~F.col("is_focus"), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("b"),
    )
    vocab = counts.orderBy((F.col("a") + F.col("b")).desc(), "term").limit(
        KEYNESS_VOCAB
    )
    tot = counts.agg(
        F.sum("a").cast("long").alias("na"), F.sum("b").cast("long").alias("nb")
    )
    af, bf = F.col("a").cast("double"), F.col("b").cast("double")
    naf, nbf = F.col("na").cast("double"), F.col("nb").cast("double")
    ea = (af + bf) * naf / (naf + nbf)
    eb = (af + bf) * nbf / (naf + nbf)
    term_a = F.when(F.col("a") > 0, af * F.log(af / ea)).otherwise(F.lit(0.0))
    term_b = F.when(F.col("b") > 0, bf * F.log(bf / eb)).otherwise(F.lit(0.0))
    g2 = F.round(F.lit(2.0) * (term_a + term_b), 6)
    direction = F.when(af * nbf > bf * naf, F.lit("focus")).otherwise(
        F.lit("background")
    )
    return (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "term",
            F.col("a").alias("n_focus"),
            F.col("b").alias("n_background"),
            g2.alias("g2"),
            direction.alias("leans"),
        )
        .orderBy(F.col("g2").desc(), "term")
        .limit(30)
    )


ORACLE_KEYNESS = f"""
WITH t AS (
  SELECT doc_id % 3 = 0 AS is_focus, unnest({_SQL_TOKENS}) AS term
  FROM documents
),
counts AS (
  SELECT term,
    CAST(COALESCE(SUM(CASE WHEN is_focus THEN 1 ELSE 0 END), 0) AS BIGINT) AS a,
    CAST(COALESCE(SUM(CASE WHEN NOT is_focus THEN 1 ELSE 0 END), 0) AS BIGINT) AS b
  FROM t GROUP BY term
),
vocab AS (SELECT * FROM counts ORDER BY a + b DESC, term LIMIT {KEYNESS_VOCAB}),
tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM counts
),
m AS (
  SELECT term, a, b,
    CAST(a AS DOUBLE) AS af, CAST(b AS DOUBLE) AS bf,
    CAST(na AS DOUBLE) AS naf, CAST(nb AS DOUBLE) AS nbf
  FROM vocab CROSS JOIN tot
),
g AS (
  SELECT term, a, b, af, bf, naf, nbf,
    (af + bf) * naf / (naf + nbf) AS ea,
    (af + bf) * nbf / (naf + nbf) AS eb
  FROM m
)
SELECT term, a AS n_focus, b AS n_background,
  {_oracle_round6("2.0 * ((CASE WHEN a > 0 THEN af * ln(af / ea) ELSE 0.0 END) + (CASE WHEN b > 0 THEN bf * ln(bf / eb) ELSE 0.0 END))")} AS g2,
  CASE WHEN af * nbf > bf * naf THEN 'focus' ELSE 'background' END AS leans
FROM g
ORDER BY g2 DESC, term
LIMIT 30
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    text_stats: ORACLE_TEXT_STATS,
    language_id_confusion: ORACLE_LANG_CONFUSION,
    quality_scores: ORACLE_QUALITY,
    doc_fingerprints: ORACLE_FINGERPRINTS,
    top_ngrams: ORACLE_TOP_NGRAMS,
    corpus_quality_gate: ORACLE_QUALITY_GATE,
    repetition_stats: ORACLE_REPETITION,
    pii_scrub_stats: ORACLE_PII_SCRUB,
    tfidf_top_terms: ORACLE_TFIDF,
    bm25_rank: ORACLE_BM25,
    lm_perplexity: ORACLE_LM_PPL,
    dataset_card: ORACLE_DATASET_CARD,
    tfidf_cosine_pairs: ORACLE_TFIDF_COSINE,
    stop_shingle_stats: ORACLE_STOP_SHINGLES,
    inverted_index: ORACLE_INVERTED_INDEX,
    zipf_fit: ORACLE_ZIPF,
    source_overlap_matrix: ORACLE_SOURCE_OVERLAP,
    gopher_rules: ORACLE_GOPHER,
    token_entropy: ORACLE_TOKEN_ENTROPY,
    term_cooccurrence_pmi: ORACLE_TERM_PMI,
    keyness_g2: ORACLE_KEYNESS,
}
