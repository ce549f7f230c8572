"""Training-data preparation operators (beyond-reference scope): the
steps between a curated corpus and a tokenized training run.

* **vocabulary build** — corpus term frequencies → dense integer ids
  by (freq DESC, term) rank.  The classic two-aggregation shape; the
  ranking window runs over the VOCABULARY (≪ corpus), and ids are
  deterministic, so re-runs on the same corpus give identical
  mappings — the property checkpointed tokenizers rely on.
* **sequence packing** — greedy contiguous fill of docs into
  fixed-token-budget bins via a running-sum window PARTITIONED BY
  SHARD.  A global pack would serialize the corpus through one
  partition; per-shard packing is embarrassingly parallel and loses
  only the tail bin per shard (bounded waste, measured in the
  output).  This is how distributed pretraining pipelines actually
  pack (per-file / per-shard), not an approximation invented here.
* **splits** — train/val/test assignment from a cryptographic hash of
  the DOC ID, never rand(): membership is reproducible, re-derivable
  row-locally, and stable under repartitioning/retries.  Split sizes
  are verified by count, leakage by disjointness (a doc's hash puts
  it in exactly one split by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import memo_col, token_count, tokens
from ..sources.registry import load_table, spread
from .ranking import bucketed_topk_rank

__all__ = [
    "build_vocab",
    "pack_sequences",
    "dataset_splits",
    "chunk_documents",
    "token_budget_mix",
    "training_shard_manifest",
    "write_training_shards",
]

VOCAB_SIZE = 1000
PACK_BUDGET = 512  # tokens per packed sequence bin

#: DuckDB twin of functions/text.tokens (keep in lock-step).
_SQL_TOKENS = (
    "COALESCE(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''), [])"
)


def build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``VOCAB_SIZE`` corpus vocabulary with dense ids: token_id is
    the (occurrences DESC, term ASC) rank, so the mapping is a pure
    function of the corpus.

    Plan: explode → count per term (one shuffle, map-side combined) →
    two-level top-k rank (operators/ranking.py): bucket-local ranks
    prune to ≤ 32·VOCAB_SIZE candidates before the single ordered
    window, so no stage ever sorts the full vocabulary (which reaches
    10⁸ terms at 100 TB) in one task.
    """
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )
    ranked = bucketed_topk_rank(
        freq,
        [F.col("occurrences").desc(), F.col("term")],
        VOCAB_SIZE,
        bucket_key="term",
        rank_col="token_id",
    )
    return ranked.select(
        F.col("token_id").cast("long").alias("token_id"), "term", "occurrences"
    )


ORACLE_VOCAB = f"""
WITH tok AS (
  SELECT unnest({_SQL_TOKENS}) AS term FROM documents
),
freq AS (
  SELECT term, COUNT(*) AS occurrences FROM tok GROUP BY term
)
SELECT CAST(row_number() OVER (ORDER BY occurrences DESC, term) AS BIGINT)
         AS token_id,
       term, occurrences
FROM freq
QUALIFY token_id <= {VOCAB_SIZE}
"""


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing: within each shard (source),
    docs in doc_id order fill ``PACK_BUDGET``-token bins; a doc starts
    a new bin when its predecessor-cumsum crosses the budget boundary.

    bin = floor(cumsum_before / budget) — oversized docs (> budget)
    occupy their bin alone and push the next doc to a fresh bin, so
    bins never interleave.  One shuffle (by source) + one window pass;
    shards pack independently — the parallel unit at 100 TB is the
    shard, and the only waste is each shard's tail bin.

    Output: per (source, bin) — docs packed, token fill, and whether
    the bin is overflowing (single oversized doc).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    binned = d.withColumn(
        "bin", ((cum - F.col("n_tokens")) / F.lit(PACK_BUDGET)).cast("long")
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("fill_tokens"),
            F.max((F.col("n_tokens") > PACK_BUDGET).cast("int"))
            .cast("boolean")
            .alias("has_oversized"),
        )
        .orderBy("source", "bin")
    )


ORACLE_PACK = f"""
WITH d AS (
  SELECT doc_id, source, len({_SQL_TOKENS}) AS n_tokens FROM documents
),
b AS (
  SELECT source,
    CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) - n_tokens)
         / {PACK_BUDGET}.0) AS BIGINT) AS bin,
    n_tokens
  FROM d
)
SELECT source, bin, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS fill_tokens,
  MAX(n_tokens > {PACK_BUDGET}) AS has_oversized
FROM b GROUP BY source, bin ORDER BY source, bin
"""


#: Split thresholds over md5(doc_id) % 100.
SPLITS = (("train", 0, 80), ("val", 80, 90), ("test", 90, 100))


def _split_expr() -> F.Column:
    h = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15),
            16,
            10,
        ).cast("long")
        % 100
    )
    expr = F.lit(None).cast("string")
    for name, lo, hi in reversed(SPLITS):
        expr = F.when((h >= lo) & (h < hi), F.lit(name)).otherwise(expr)
    return expr


def dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10 by
    md5(doc_id) % 100), summarized per (source, split).

    The hash makes membership a row-local pure function: any engine,
    any retry, any partitioning reproduces the identical split —
    and a doc can never leak across splits because it has exactly one
    hash.  Scan-side only; the single shuffle is the summary groupBy.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    return (
        d.withColumn("split", _split_expr())
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("source", "split")
    )


ORACLE_SPLITS = f"""
WITH d AS (
  SELECT doc_id, source, len({_SQL_TOKENS}) AS n_tokens,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
      AS h
  FROM documents
)
SELECT source,
  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM d GROUP BY 1, 2 ORDER BY source, split
"""


# ---------------------------------------------------------------------------
# Overlapping-window chunking (embedding / context-window prep)
# ---------------------------------------------------------------------------

#: Window geometry: 32-token chunks, stride 24 (8-token overlap) — the
#: RAG/embedding-prep shape.  Production values (512/384 etc.) are a
#: config; these exercise multi-chunk docs on the synthetic corpus.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping token windows: one output
    row per (doc, chunk) with the chunk text and its token count.

    Scale shape: scan-side row expansion — ``sequence`` builds the
    chunk-start list from the token count, ``explode`` emits one row
    per window, ``slice`` cuts the window from the in-row token array.
    The only shuffle is ``spread``'s narrow (doc_id, text) rebalance
    (compute parallelism vs byte layout — see sources/registry.spread);
    the expansion itself adds none.  Output rows ∝ corpus tokens/stride.

    Chunk-count formula (shared with the oracle): a doc with n ≤ CHUNK
    tokens is one chunk; else 1 + ceil((n - CHUNK) / STRIDE) chunks via
    integer arithmetic, so the LAST window always reaches the tail
    (and may be shorter than CHUNK).  Empty documents — including NULL
    text, which tokenizes to [] (functions/text.tokens is NULL-safe) —
    emit exactly one empty chunk rather than vanishing.
    """
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    t = d.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("n")
    )
    n_extra = F.when(
        F.col("n") <= CHUNK_TOKENS, F.lit(0)
    ).otherwise(
        ((F.col("n") - CHUNK_TOKENS) + CHUNK_STRIDE - 1).cast("long")
        / CHUNK_STRIDE
    ).cast("long")
    ex = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_extra)).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS
    )
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


ORACLE_CHUNKS = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks, len({_SQL_TOKENS}) AS n
  FROM documents
),
k AS (
  SELECT doc_id, toks,
    CASE WHEN n <= {CHUNK_TOKENS} THEN 0
         ELSE (n - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}
    END AS n_extra
  FROM t
),
e AS (
  SELECT doc_id, toks, unnest(range(n_extra + 1)) AS chunk_idx FROM k
),
c AS (
  SELECT doc_id, chunk_idx,
    toks[chunk_idx*{CHUNK_STRIDE}+1 : chunk_idx*{CHUNK_STRIDE}+{CHUNK_TOKENS}] AS chunk
  FROM e
)
SELECT doc_id, chunk_idx,
  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
  -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
  -- array_join([]) is '' — a zero-token doc's single empty chunk
  -- must agree (found by the differential fuzzer)
  COALESCE(array_to_string(chunk, ' '), '') AS chunk_text
FROM c
"""


#: Per-source token budget for the mixing operator.
MIX_BUDGET = 3000


def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing under a per-source token budget: docs are taken in
    deterministic md5-hash order (an impartial shuffle every engine
    reproduces) until the source's budget is exhausted; the summary
    reports kept/total docs and tokens per source.

    This is the mixture-weighting step of pretraining-data assembly:
    budgets come from the target mixture, the hash order de-biases
    document position, and membership stays a pure row-local function
    of (doc, budget) — re-runs and engines agree exactly.  Shape: one
    window per source over (hash, doc_id) + the final rollup.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        token_count("text").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    kept = d.withColumn("cum", cum).withColumn(
        "keep", (F.col("cum") - F.col("n_tokens")) < MIX_BUDGET
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0)).alias(
                "kept_tokens"
            ),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )


ORACLE_BUDGET_MIX = f"""
WITH d AS (
  SELECT doc_id, source, len({_SQL_TOKENS}) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN cum - n_tokens < {MIX_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept,
  CAST(SUM(CASE WHEN cum - n_tokens < {MIX_BUDGET} THEN n_tokens ELSE 0 END)
       AS BIGINT) AS kept_tokens,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM c GROUP BY source ORDER BY source
"""


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step: the top-20 adjacent character
    pairs by corpus-weighted frequency — the candidate ranking a BPE
    tokenizer trainer computes every merge iteration.

    Scale shape (why tokenizer training is feasible on Spark at all):
    the corpus contributes ONE aggregation to word counts; pair
    expansion then runs over the DISTINCT VOCABULARY (Zipf: orders of
    magnitude smaller), weighted by the word counts.  Per iteration
    cost after the first scan is vocabulary-sized, so the full merge
    loop (driver-iterated like kmeans_embeddings) re-scans nothing.
    """
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = words.select(
        "wc",
        F.explode(
            F.expr(
                "CASE WHEN length(word) > 1 THEN "
                "transform(sequence(1, length(word)-1), i -> substring(word, i, 2)) "
                "ELSE array() END"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("merge_count"))
        .orderBy(F.col("merge_count").desc(), "pair")
        .limit(20)
    )


ORACLE_BPE_MERGE = f"""
WITH words AS (
  SELECT word, COUNT(*) AS wc FROM (
    SELECT unnest({_SQL_TOKENS}) AS word FROM documents
  ) GROUP BY word
),
pairs AS (
  SELECT wc, unnest(
    CASE WHEN length(word) > 1
      THEN list_transform(range(1, length(word)),
                          i -> substr(word, CAST(i AS INT), 2))
      ELSE [] END) AS pair
  FROM words
)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS merge_count
FROM pairs GROUP BY pair
ORDER BY merge_count DESC, pair LIMIT 20
"""


#: Greedy merge count for :func:`bpe_train` — also the unroll depth of
#: its staged-CTE oracle (one v{i}/w{i} block per merge).
BPE_MERGES = 8


def bpe_train(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Full BPE tokenizer training loop: ``n_merges`` greedy merges,
    returning the learned merge table (rank, pair, merged symbol, and
    the weighted count that won the rank).

    Distributed shape (same driver-iterated pattern as
    ``kmeans_embeddings``): ONE corpus scan builds the weighted word
    vocabulary; every iteration after that runs on the vocabulary
    only — rank the adjacent symbol pairs (vocab-sized aggregate),
    collect the single winning pair to the driver, and rewrite the
    symbol arrays with a left-to-right fold (``aggregate`` HOF —
    interpreted per element, fine at vocab scale, never applied to
    the corpus).  At 100 TB the corpus scan dominates and happens
    once; 50k merges iterate over a table of ~1M distinct words.

    Cross-engine exact (the kmeans_exact_lloyd recipe applied to a
    symbolic loop): every ranked count is an integer SUM, the winner
    tie-break is (n DESC, a, b) on both engines, and the oracle
    (``ORACLE_BPE_TRAIN``) unrolls the ``BPE_MERGES`` iterations as
    staged CTEs whose left-to-right non-overlapping rewrite is a
    framed-string ``replace`` — provably the same greedy fold as the
    Spark ``aggregate`` below (see the oracle's docstring note).
    tests/test_trainprep.py additionally pins the merge sequence
    against a pure Python BPE reference on the same word counts.
    """
    d = load_table(spark, sf_dir, "documents")
    merges, final_vocab = _bpe_learn(_bpe_vocab(d), n_merges)
    final_vocab.unpersist()
    return spark.createDataFrame(
        merges, schema="rank long, pair string, merged string, weighted_count long"
    )


def _bpe_vocab(d: DataFrame) -> DataFrame:
    """(word, wc, syms) weighted character-split vocabulary — the ONE
    corpus scan of BPE training; everything after runs on it."""
    return (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(
            "word",
            "wc",
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("syms"),
        )
        .cache()
    )


@memo_col
def _bpe_pair_cols() -> dict:
    """Constant Column trees of the BPE merge loop."""
    return {
        "explode_pairs": F.explode(
            F.expr(
                "CASE WHEN size(syms) > 1 THEN "
                "transform(sequence(1, size(syms)-1), "
                "i -> struct(syms[i-1] AS a, syms[i] AS b)) "
                "ELSE array() END"
            )
        ).alias("p"),
        "sum_wc": F.sum("wc").alias("n"),
        "n_desc": F.col("n").desc(),
        "empty_syms": F.array().cast("array<string>"),
    }


def _bpe_learn(
    vocab: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The greedy merge loop over a cached (word, wc, syms) vocab:
    returns (merge table rows, final CACHED vocab frame with post-merge
    syms) — shared by :func:`bpe_train` (keeps the merges) and
    :func:`bpe_encode_corpus` (keeps the rewritten vocabulary)."""
    merges: list[tuple[int, str, str, int]] = []
    # per-merge constant Column trees, built once per process
    # (memo_col): the adjacent-pair explode and the ranked-count sort
    # were rebuilt every merge round — pure py4j driver latency
    ec = _bpe_pair_cols()
    #: the previous round's vocab, unpersisted only once the CURRENT
    #: round's cache is provably populated — the top-pair collect below
    #: materializes `vocab` as a side effect, so the per-round
    #: materialize-only count() this replaces was a whole redundant job
    #: (guide §1.2: don't compute things twice; 2 jobs/merge → 1).
    parent: DataFrame | None = None
    for rank in range(n_merges):
        pairs = vocab.select("wc", ec["explode_pairs"])
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(ec["sum_wc"])
            .orderBy(ec["n_desc"], "a", "b")
            .limit(1)
            .collect()
        )
        if parent is not None:  # this round's cache is populated now
            parent.unpersist()
            parent = None
        if not top or top[0]["n"] <= 0:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((rank, f"{a} {b}", a + b, n))

        # left-to-right non-overlapping merge of (a, b) in every word —
        # symbols enter as lit()s, never interpolated into SQL text.
        # NB exactly 2 params (PySpark HOF arity counts defaults);
        # a/b bind immediately below, so closure capture is safe.
        def _step(acc, x):
            hit = (
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b))
            )
            return F.when(
                hit,
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
            ).otherwise(F.concat(acc, F.array(x)))

        merged_syms = F.aggregate(F.col("syms"), ec["empty_syms"], _step)
        new_vocab = vocab.select("word", "wc", merged_syms.alias("syms")).cache()
        parent, vocab = vocab, new_vocab
    if parent is not None:
        # tail: the final rewrite was never pulled through by a collect
        # — materialize it before releasing its parent so unpersist
        # cannot reintroduce a recompute path
        vocab.count()
        parent.unpersist()
    return merges, vocab


def bpe_encode_corpus(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Apply the learned BPE merges to the corpus — the tokenizer
    APPLICATION step of training-data prep: per document, whitespace
    words, character-level token count, post-merge BPE token count,
    and the compression ratio (the tokenizer-fertility signal that
    decides token budgets and flags scripts the tokenizer serves
    badly).

    Scale shape: the merge loop runs on the DISTINCT vocabulary
    (Zipf: orders of magnitude smaller than the corpus); encoding is
    then ONE equi-join of the exploded corpus against the (word →
    token count) table plus one per-doc aggregate — document bodies
    are scanned once and no symbol array ever crosses a shuffle.
    Cross-engine exact end-to-end: integer counts joined through the
    same unrolled merge chain as ``ORACLE_BPE_TRAIN`` (the encode
    oracle extends it by a word-length tail), ratio via the 6-dp
    shortest-repr recipe.
    """
    d = load_table(spark, sf_dir, "documents")
    _, final_vocab = _bpe_learn(_bpe_vocab(d), n_merges)
    # Materialize the vocab-sized (word, n_sym, n_chr) projection and
    # release the learner's cache: localCheckpoint truncates the 8-fold
    # rewrite lineage (so unpersist can't trigger a recompute) and its
    # blocks are reclaimed by the ContextCleaner when `wtoks` goes out of
    # scope — unlike the previous leave-it-cached approach, which leaked
    # one cached vocabulary per invocation for the session's lifetime.
    wtoks = final_vocab.select(
        "word",
        F.size("syms").cast("long").alias("n_sym"),
        F.length("word").cast("long").alias("n_chr"),
    ).localCheckpoint(eager=True)
    final_vocab.unpersist()
    ex = d.select("doc_id", F.explode_outer(tokens("text")).alias("word"))
    per = (
        ex.join(wtoks, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("word")).alias("n_words"),
            F.coalesce(F.sum("n_chr"), F.lit(0)).cast("long").alias("n_chars"),
            F.coalesce(F.sum("n_sym"), F.lit(0)).cast("long").alias(
                "n_bpe_tokens"
            ),
        )
    )
    out = per.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        F.when(
            F.col("n_chars") > 0,
            F.round(
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_chars").cast("double"),
                6,
            ),
        ).alias("compression"),
    ).orderBy("doc_id")
    return out


#: Oracle symbol framing: each word's symbol list is encoded as
#: ``SEP || sym1 || SEP || SEP || sym2 || SEP || …`` (every symbol
#: framed by chr(31) on both sides).  chr(31) never occurs in the
#: corpus (tokens are printable ASCII; asserted for the test tables),
#: so the pattern ``SEP a SEP SEP b SEP`` matches exactly the adjacent
#: symbol pair (a, b) at symbol boundaries, and SQL ``replace`` —
#: left-to-right, non-overlapping, resuming AFTER the replacement —
#: consumes occurrences in the same order as the Spark twin's greedy
#: left fold (a just-merged symbol equals ``a`` only if b = '', which
#: cannot happen, so neither engine re-merges within a pass).
_BPE_SEP = "chr(31)"


def _bpe_iteration(i: int) -> str:
    """CTE block for one greedy BPE merge: rank adjacent symbol pairs
    of v{i-1} by weighted count (tie-break n DESC, a, b — the Spark
    twin's orderBy), then rewrite every word's framed symbol string."""
    s = _BPE_SEP
    return f"""
p{i} AS (
  SELECT pr.a AS a, pr.b AS b, CAST(SUM(wc) AS BIGINT) AS n
  FROM (
    SELECT wc, unnest(CASE WHEN len(syms) > 1
        THEN list_transform(range(1, len(syms)),
                            j -> {{'a': syms[j], 'b': syms[j+1]}})
        ELSE [] END) AS pr
    FROM (SELECT wc, string_split(substr(s, 2, length(s) - 2), {s} || {s}) AS syms
          FROM v{i-1})
  ) GROUP BY pr.a, pr.b
),
w{i} AS (SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1),
v{i} AS (
  -- LEFT JOIN ON TRUE, not CROSS JOIN: when no pair exists (w{i}
  -- empty — all words single-symbol) the vocabulary must CARRY
  -- FORWARD unchanged, mirroring the Spark loop's early break.  A
  -- cross join would empty v{i} and with it the encode oracle's
  -- final vocabulary (fuzz-found on a one-char-word corpus); the
  -- train oracle is indifferent (it reads w{i}, and p/w stay empty
  -- once empty either way).
  SELECT v.word, v.wc,
    CASE WHEN w.a IS NULL THEN v.s
         ELSE replace(v.s, {s} || w.a || {s} || {s} || w.b || {s},
                           {s} || w.a || w.b || {s}) END AS s
  FROM v{i-1} v LEFT JOIN w{i} w ON TRUE
)"""


#: Shared unrolled merge chain: words → framed v0 → (p{i}, w{i}, v{i})
#: per merge.  ORACLE_BPE_TRAIN reads the winners w{i};
#: ORACLE_BPE_ENCODE reads the final rewritten vocabulary v{BPE_MERGES}.
_BPE_CHAIN = f"""words AS (
  SELECT word, COUNT(*) AS wc FROM (
    SELECT unnest({_SQL_TOKENS}) AS word FROM documents
  ) GROUP BY word
),
v0 AS (
  SELECT word, wc,
    {_BPE_SEP} || array_to_string(
      list_transform(range(1, length(word) + 1),
                     i -> substr(word, CAST(i AS INT), 1)),
      {_BPE_SEP} || {_BPE_SEP}) || {_BPE_SEP} AS s
  FROM words
),
{",".join(_bpe_iteration(i + 1) for i in range(BPE_MERGES))}"""


ORACLE_BPE_TRAIN = f"""
WITH {_BPE_CHAIN}
SELECT * FROM (
{" UNION ALL ".join(
    f"SELECT CAST({i} AS BIGINT) AS rank, a || ' ' || b AS pair, "
    f"a || b AS merged, n AS weighted_count FROM w{i + 1}"
    for i in range(BPE_MERGES)
)}
) ORDER BY rank
"""


def _bpe_encode_oracle() -> str:
    from .pandas_ops import _oracle_round6

    s = _BPE_SEP
    ratio = _oracle_round6(
        "CAST(p.n_bpe_tokens AS DOUBLE) / CAST(p.n_chars AS DOUBLE)"
    )
    return f"""
WITH {_BPE_CHAIN},
wq AS (
  SELECT word,
    CAST(len(string_split(substr(s, 2, length(s) - 2), {s} || {s})) AS BIGINT)
      AS n_sym,
    CAST(length(word) AS BIGINT) AS n_chr
  FROM v{BPE_MERGES}
),
ex AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS word FROM documents),
per AS (
  SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
    CAST(SUM(wq.n_chr) AS BIGINT) AS n_chars,
    CAST(SUM(wq.n_sym) AS BIGINT) AS n_bpe_tokens
  FROM ex JOIN wq USING (word) GROUP BY ex.doc_id
)
SELECT d.doc_id,
  COALESCE(p.n_words, 0) AS n_words,
  COALESCE(p.n_chars, 0) AS n_chars,
  COALESCE(p.n_bpe_tokens, 0) AS n_bpe_tokens,
  CASE WHEN COALESCE(p.n_chars, 0) > 0 THEN {ratio} END AS compression
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY d.doc_id
"""


ORACLE_BPE_ENCODE = _bpe_encode_oracle()


# ---------------------------------------------------------------------------
# DSIR importance weighting (data selection for language models)
# ---------------------------------------------------------------------------

from .dedup import _md5_int  # 60-bit md5 (single Spark/DuckDB-twin definition)

#: Hashed feature space size for DSIR (Xie et al. 2023 use 10k buckets
#: over unigrams+bigrams; 512 keeps the sf0.01 bucket tables exercised
#: while the algorithm is bucket-count-agnostic).
DSIR_BUCKETS = 512
DSIR_TOPK = 100


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every document
    by how target-like its hashed n-gram distribution is, where the
    target is the ``lang = 'en'`` slice and the raw distribution is the
    whole corpus.  Top-``DSIR_TOPK`` docs by weight are what importance
    resampling would draw first.

    weight(d) = mean over d's grams g of
        ln P_target(bucket(g)) − ln P_raw(bucket(g)),
    with add-one smoothing over ``DSIR_BUCKETS`` hashed unigram+bigram
    buckets.

    Scale shape: the two bucket LMs are ``DSIR_BUCKETS``-row tables
    built by one hash aggregate each over the exploded grams (8-byte
    keys); both broadcast into the scoring join.  Per-doc scoring is
    one (doc_id, bucket) aggregate plus a broadcast join — no
    corpus-sized shuffle carries text.  FP parity: each bucket's two
    ln's are rounded to 9 dp and summed as DECIMAL (order-free, same
    trick as lm_perplexity); only the final mean runs in double.

    Reference scope: beyond-reference (training-data curation family
    the brief asks for); no analog in /root/reference.
    """
    from .dedup import MINHASH_P, SHINGLE_C

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # One md5 per TOKEN, bigram buckets from an integer rolling combine
    # of the two token hashes (same scheme as the MinHash/decontam gram
    # builders) — halves the hash work versus md5-ing concatenated
    # bigram strings and never materializes them.  At corpus scale the
    # per-token hash pass is the dominant map cost, so this matters.
    d2 = d.select("doc_id", "lang", tokens("text").alias("toks")).select(
        "doc_id",
        "lang",
        F.transform("toks", lambda t: _md5_int("dsir#", t) % MINHASH_P).alias("th"),
    )
    n = F.size("th")
    big = F.when(
        n >= 2,
        F.zip_with(
            F.expr("slice(th, 1, size(th) - 1)"),
            F.expr("slice(th, 2, size(th) - 1)"),
            lambda a, b: (a * SHINGLE_C + b) % MINHASH_P,
        ),
    ).otherwise(F.array().cast("array<long>"))
    buckets = F.concat(
        F.transform("th", lambda x: x % DSIR_BUCKETS),
        F.transform(big, lambda x: x % DSIR_BUCKETS),
    )
    ex = d2.select("doc_id", "lang", F.explode(buckets).alias("b"))
    # Both bucket LMs come from ONE conditional aggregate over the gram
    # stream (raw count + count-if-target per bucket) instead of two
    # separate passes — Spark shares no subplan without an explicit
    # cache, so every distinct aggregation over `ex` re-scans and
    # re-hashes the corpus.  Two corpus passes total (this one and the
    # per-doc scoring counts below) versus three in the naive form: a
    # wash at bench SF where stage overhead dominates, one fewer full
    # read+md5 pass at corpus scale where the scan IS the cost.
    raw_b = ex.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct_raw"),
    )
    tgt_b = raw_b.filter(F.col("ct_raw") > 0).select(
        "b", F.col("ct_raw").alias("ct")
    )
    raw_b = raw_b.select("b", "cr")
    totals = raw_b.agg(F.sum("cr").alias("nr")).crossJoin(
        tgt_b.agg(F.sum("ct").alias("nt"))
    )
    lnw = (
        raw_b.join(tgt_b, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.round(
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)).cast("double") + 1.0)
                        / (F.col("nt").cast("double") + F.lit(float(DSIR_BUCKETS)))
                    ),
                    9,
                ).cast("decimal(20,9)")
                - F.round(
                    F.log(
                        (F.col("cr").cast("double") + 1.0)
                        / (F.col("nr").cast("double") + F.lit(float(DSIR_BUCKETS)))
                    ),
                    9,
                ).cast("decimal(20,9)")
            ).alias("lnw"),
        )
    )
    doc_b = ex.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    scored = (
        doc_b.join(F.broadcast(lnw), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            # c must shrink to decimal(9,0) first: long(=decimal(20,0))
            # × decimal(20,9) needs precision 41 > 38, so Spark would
            # silently REDUCE THE SCALE to 6 (allowPrecisionLoss) and
            # the decimal-exact parity with DuckDB breaks at the 6th dp
            F.sum(F.col("c").cast("decimal(9,0)") * F.col("lnw")).alias("sum_lnw"),
        )
    )
    # Tie-proof 6-dp mean: round(sum/n, 6) on doubles diverges between
    # engines when the quotient lands on a .5e-6 boundary (observed at
    # sf0.01).  Instead scale the exact decimal sum to integer nanos
    # and round half-up in integer arithmetic — floor((a + b/2) / b)
    # with a = sum·1e9, b = 1000·n — which both engines compute
    # identically (all magnitudes ≪ 2^53, so the one double division
    # is exact enough that floor is unambiguous: quotients are ≥ 1/b
    # away from the next integer except at exact ties).
    s_nano = (F.col("sum_lnw") * F.lit(1_000_000_000)).cast("long")
    n = F.col("n_grams")
    w_micro = F.floor(
        (s_nano + 500 * n).cast("double") / (1000 * n).cast("double")
    )
    w_key = s_nano.cast("double") / n.cast("double")
    return (
        scored.select(
            "doc_id",
            "n_grams",
            w_key.alias("wkey"),
            (w_micro.cast("double") / F.lit(1e6)).alias("dsir_weight"),
        )
        .orderBy(F.col("wkey").desc(), "doc_id")
        .limit(DSIR_TOPK)
        .select("doc_id", "n_grams", "dsir_weight")
    )


ORACLE_DSIR = f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKENS} AS toks FROM documents),
h AS (
  SELECT doc_id, lang,
    list_transform(toks, x ->
      CAST(('0x' || substr(md5('dsir#' || x), 1, 15)) AS BIGINT) % 1000000007) AS th
  FROM t
),
ex AS (
  SELECT doc_id, lang, unnest(list_concat(
    list_transform(th, x -> x % {DSIR_BUCKETS}),
    CASE WHEN len(th) >= 2 THEN
      list_transform(list_zip(th[1:len(th)-1], th[2:len(th)]),
                     p -> ((p[1] * 8191 + p[2]) % 1000000007) % {DSIR_BUCKETS})
    ELSE [] END)) AS b
  FROM h
),
raw_b AS (SELECT b, COUNT(*) AS cr FROM ex GROUP BY b),
tgt_b AS (SELECT b, COUNT(*) AS ct FROM ex WHERE lang = 'en' GROUP BY b),
totals AS (
  SELECT (SELECT SUM(cr) FROM raw_b) AS nr, (SELECT SUM(ct) FROM tgt_b) AS nt
),
lnw AS (
  SELECT raw_b.b,
    CAST(ROUND(ln((CAST(COALESCE(tgt_b.ct, 0) AS DOUBLE) + 1.0)
                  / (CAST(totals.nt AS DOUBLE) + {DSIR_BUCKETS}.0)), 9)
         AS DECIMAL(20,9))
    - CAST(ROUND(ln((CAST(raw_b.cr AS DOUBLE) + 1.0)
                    / (CAST(totals.nr AS DOUBLE) + {DSIR_BUCKETS}.0)), 9)
           AS DECIMAL(20,9)) AS lnw
  FROM raw_b LEFT JOIN tgt_b ON raw_b.b = tgt_b.b CROSS JOIN totals
),
doc_b AS (SELECT doc_id, b, COUNT(*) AS c FROM ex GROUP BY doc_id, b),
scored AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
    SUM(CAST(c AS DECIMAL(9,0)) * lnw) AS sum_lnw
  FROM doc_b JOIN lnw USING (b) GROUP BY doc_id
)
SELECT doc_id, n_grams,
  floor((CAST(CAST(sum_lnw * 1000000000 AS BIGINT) AS DOUBLE) + 500.0 * n_grams)
        / (1000.0 * n_grams)) / 1e6 AS dsir_weight
FROM scored
ORDER BY CAST(CAST(sum_lnw * 1000000000 AS BIGINT) AS DOUBLE) / n_grams DESC, doc_id
LIMIT {DSIR_TOPK}
"""


# ---------------------------------------------------------------------------
# training shard assignment + writer
# ---------------------------------------------------------------------------

N_SHARDS = 8


def _shard_col() -> F.Column:
    """Deterministic shard id: 60-bit md5 of the doc id mod
    ``N_SHARDS`` — row-local, reproducible under repartitioning and
    retries (the same contract as :func:`dataset_splits`), and
    mirrored digit-for-digit by the DuckDB twin."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("shard#"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (h % N_SHARDS).alias("shard")


_SQL_SHARD = (
    "CAST(('0x' || substr(md5('shard#' || CAST(doc_id AS VARCHAR)), 1, 15)) "
    f"AS BIGINT) % {N_SHARDS}"
)


def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest of the deterministic training-shard
    assignment: document count, token mass, and doc-id span — the
    record a training job reads to schedule data loading, and the
    balance check that catches a skewed shard before a 1000-GPU run
    starves on one file.

    Scale shape: one scan computes (shard, n_tokens) row-locally; ONE
    hash aggregate on the 8 shard keys (map-side combined) produces
    the manifest.  No window, no sort before the 8-row output.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens"), _shard_col()
    )
    return (
        d.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


ORACLE_SHARD_MANIFEST = f"""
WITH d AS (
  SELECT doc_id, len({_SQL_TOKENS}) AS n_tokens, {_SQL_SHARD} AS shard
  FROM documents
)
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM d GROUP BY shard ORDER BY shard
"""


def write_training_shards(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """Write the corpus as ``N_SHARDS`` hash-assigned parquet shards
    under ``out_dir`` (``shard=K/`` hive layout) and return the
    manifest of what was written.

    The physical layout contract a training loader needs: every doc in
    exactly one shard (hash-deterministic, so an incremental re-run
    appends to the SAME shard), one writer task per shard via
    ``repartition(N, shard)`` (no global sort), docs ordered by doc_id
    within each shard file so sequence packing downstream is
    reproducible.  The returned manifest is recomputed FROM THE
    WRITTEN FILES — it certifies the sink, not the plan.
    """
    d = load_table(spark, sf_dir, "documents").withColumn(
        "shard", _shard_col()
    )
    (
        d.repartition(N_SHARDS, "shard")
        .sortWithinPartitions("shard", "doc_id")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(out_dir)
    )
    written = spark.read.parquet(out_dir).select(
        F.col("shard").cast("long").alias("shard"),
        "doc_id",
        token_count("text").alias("n_tokens"),
    )
    return (
        written.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# epoch shuffle: deterministic per-epoch training order
# ---------------------------------------------------------------------------

#: Epoch the registered query plans (any value works; pinned so the
#: oracle and the Spark side agree).
SHUFFLE_EPOCH = 2


def epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle: every document gets a
    (shard, position) for epoch ``SHUFFLE_EPOCH``, derived purely from
    ``md5('ep#<epoch>#' || doc_id)`` — a seeded hash permutation, the
    standard trick for reshuffling a 100 TB corpus per epoch WITHOUT
    materializing a permuted copy (the loader just reads its shard in
    position order; a different epoch seed is a brand-new order, and
    the same epoch is bit-reproducible for job restarts).

    Scale shape: shard = hash % N (hash-balanced — no global rank, so
    no single-partition window); position = row_number within the
    shard, i.e. ONE shuffle on the shard key and a per-shard sort.
    The (hash, doc_id) composite order key makes the plan total even
    under hash collisions.  Contrast with a naive ORDER BY rand():
    nondeterministic, unseeded per task, and a full global sort.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id",
        _md5_int(f"ep#{SHUFFLE_EPOCH}#", F.col("doc_id").cast("string")).alias("h"),
        token_count("text").alias("n_tokens"),
    )
    w = W.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.withColumn("shard", F.col("h") % N_SHARDS)
        .withColumn("position", F.row_number().over(w).cast("long") - 1)
        .select("doc_id", "shard", "position", "n_tokens")
        .orderBy("shard", "position")
    )


ORACLE_EPOCH_SHUFFLE = f"""
WITH d AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('ep#{{epoch}}#' || CAST(doc_id AS VARCHAR)), 1, 15))
      AS BIGINT) AS h,
    len({_SQL_TOKENS}) AS n_tokens
  FROM documents
)
SELECT doc_id, h % {N_SHARDS} AS shard,
  CAST(ROW_NUMBER() OVER (PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id)
    AS BIGINT) - 1 AS position,
  CAST(n_tokens AS BIGINT) AS n_tokens
FROM d ORDER BY shard, position
""".replace("{epoch}", str(SHUFFLE_EPOCH))


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    build_vocab: ORACLE_VOCAB,
    bpe_merge_candidates: ORACLE_BPE_MERGE,
    bpe_train: ORACLE_BPE_TRAIN,
    pack_sequences: ORACLE_PACK,
    dataset_splits: ORACLE_SPLITS,
    chunk_documents: ORACLE_CHUNKS,
    token_budget_mix: ORACLE_BUDGET_MIX,
    dsir_importance_weights: ORACLE_DSIR,
    training_shard_manifest: ORACLE_SHARD_MANIFEST,
    epoch_shuffle_plan: ORACLE_EPOCH_SHUFFLE,
    bpe_encode_corpus: ORACLE_BPE_ENCODE,
}
