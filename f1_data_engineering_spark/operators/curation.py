"""End-to-end corpus curation as ONE declarative plan.

The individual curation stages each exist as standalone oracle-checked
queries (quality gate ``textops.corpus_quality_gate``, exact dedup
``dedup.dedup_keep_first``, near-dup pruning ``dedup.minhash_lsh_pairs``,
decontamination ``decontam.decontaminate_ngrams``).  This module chains
them the way a production training-data build actually runs them —

    raw corpus
      → quality gate        (score ≥ 0.4, identified language)
      → exact dedup         (keep-first per token-stream fingerprint)
      → near-dup prune      (MinHash/LSH pairs, drop the larger doc_id
                             of any pair with est. Jaccard ≥ τ)
      → decontamination     (drop eval-split docs + any train doc whose
                             5-gram overlap with the eval set ≥ 30%)

— and rolls up per-source survival counts at every stage in ONE
aggregate (:func:`stage_rollup`: the stage frames, each projected to
(source, stage index, pii_hit, n_tok), unioned and grouped by source).
The whole pipeline is a single DataFrame: Catalyst sees every stage at
once, so filters fold into the scan, the exact-dedup keep is one
shuffle on the 16-byte fingerprint, the LSH band join shuffles K-long
signatures (not bodies), and the eval-gram set broadcasts.  No stage
materializes an intermediate table.

100 TB posture: per-stage cost is the same as the standalone operators
(each already audited in PLANS.md / SCALING.md); composing them adds
zero extra shuffles beyond the per-stage ones because every stage keys
on doc_id-derived columns, and the rollup adds one shuffle of at most
(stages × sources × partitions) partial-aggregate rows.  The text
pipeline caches five frames (the scrubbed corpus, scored docs,
survivor signatures, near-dup survivors, gram sets) and the semantic
stage two more (the cell assignment and its survivors): the canonical
multi-consumer checkpoints, each O(docs) rows.  A/B note
(sf0.1, solo min-of-3): computing grams only where consumed (eval
split + train survivors, no cache) measured 9.0 s vs 5.5 s for the
cached full-corpus pass — the synthetic gates prune little, so cache
reuse beats the smaller input.  At production pruning rates (quality
gates often drop >50% of raw web text) restrict the gram pass to
survivors + the real eval-suite table instead; the %50 eval-split
convention is what forces the full-corpus pass here.

Reference parity note: the reference repo has no curation analog
(its pipeline is extract→transform→dashboard, SURVEY.md §3); this is
part of the beyond-reference LLM training-data surface the brief asks
for, composed from the reference-independent stage operators.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import (
    language_id,
    memo_col,
    quality_score,
    token_count,
    tokens,
)
from ..sources.registry import load_table, spread
from .decontam import CONTAM_THRESHOLD, _SQL_TH, _sql_gram5, grams_for
from .dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    _SQL_SHINGLE_HASHES,
    _SQL_SIG,
    _SQL_TOKEN_HASHES,
    _SQL_TOKS,
    band_keys_df,
    estimate_pairs,
    signatures_df,
)
from .textops import (
    _ALL_STOP,
    _EMAIL_RE,
    _URL_RE,
    _sql_lang_case,
    _sql_lang_scores,
)

#: Near-dup prune threshold on the MinHash-estimated Jaccard.  With
#: K=16 the estimate is a multiple of 1/16, so 0.5 is exactly
#: representable and the ≥ comparison is engine-stable.
NEAR_DUP_TAU = 0.5


def _curation_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ truncated copies of the first 10 docs — the same
    planted-near-dup convention as ``dedup._near_dup_corpus`` (so the
    near-dup stage provably removes something at every SF), but keeping
    ``source`` for the per-source rollup."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    pert = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.col("text")
        .substr(F.lit(1), ((F.length("text") * 4) / 5).cast("int"))
        .alias("text"),
    )
    return spread(d.unionByName(pert), "doc_id")


#: PII redaction classes (VERDICT r10 item 5): class → (regex,
#: replacement token), applied IN ORDER — URLs first so an email or
#: IP embedded in a URL's query string is consumed by <URL> rather
#: than leaving a torn URL; the IP class before the phone class so
#: neither can see the other's digits.  Same Java/RE2-portable
#: subset as ``textops.pii_scrub_stats`` (\\b and \\d behave
#: identically in Spark's Java regex and DuckDB's RE2).
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_CLASSES = (
    (_URL_RE, "<URL>"),
    (_EMAIL_RE, "<EMAIL>"),
    (_IP_RE, "<IP>"),
    (_PHONE_RE, "<PHONE>"),
)


@memo_col
def _pii_scrub_cols() -> list:
    """The constant 4-column select of :func:`pii_scrub_clean` —
    payload injection, guarded redaction chain, hit flag — built once
    per process (memo_col): every curation query re-ran ~200 py4j
    round trips of identical expression construction per invocation."""
    sid = (F.col("doc_id") % 1000000).cast("string")
    oct3 = (F.col("doc_id") % 250).cast("string")
    t0 = (
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" see https://example.com/x?id="), sid,
                F.lit(" or mail u"), sid, F.lit("@test.org now"),
            ),
        )
        .when(
            F.col("doc_id") % 10 == 5,
            F.concat(
                F.col("text"),
                F.lit(" call 555-123-4567 or ping 10.0."), oct3,
                F.lit(".7 now"),
            ),
        )
        .otherwise(F.col("text"))
    )
    replaced = t0
    for pat, tok in PII_CLASSES:
        replaced = F.regexp_replace(replaced, pat, tok)
    # ONE regex pass decides the hit (alternation of the class patterns
    # — a string matches the union iff it matches some class), and the
    # 4-deep replace chain runs ONLY on hit rows: regexp_replace is the
    # identity on a row no class matches, so guarding it changes
    # nothing, and the 4 replace scans are skipped for the ~80% of
    # docs with no PII (guide §1.2 per-task work; A/B in
    # OPTIMIZATION_r11.md).  The oracle twin is untouched — values are
    # identical by the identity argument.
    hit = t0.rlike("|".join(f"(?:{pat})" for pat, _ in PII_CLASSES))
    return [
        F.col("doc_id"),
        F.col("source"),
        F.when(hit, replaced).otherwise(t0).alias("text"),
        F.when(hit, 1).otherwise(0).alias("pii_hit"),
    ]


def pii_scrub_clean(corpus: DataFrame) -> DataFrame:
    """The PII-scrub TRANSFORM (the census ``textops.pii_scrub_stats``
    counts PII; this PRODUCES the redacted corpus): per-class regex
    redaction with typed replacement tokens, chained at corpus
    ingestion so every downstream curation stage — quality scoring,
    fingerprints, MinHash signatures, decontam grams — operates on
    scrubbed text, exactly where a production pipeline scrubs.

    The synthetic corpus carries no real PII, so a deterministic
    payload is injected first (doc_id % 10 == 0 → URL + email,
    % 10 == 5 → phone + IPv4; both engines inject identically — the
    ``textops.pii_scrub_stats`` convention) to keep the redaction
    path provably exercised at every SF.  The planted near-dup copies
    (doc_id + 1e6) key the payload on ``doc_id % 1e6`` so original
    and copy receive the SAME suffix and stay near-dups.

    Returns (doc_id, source, text, pii_hit) — expression-only, fully
    scan-side; no shuffle, no UDF.
    """
    return corpus.select(*_pii_scrub_cols())


def pii_scrub_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The redacted corpus itself, summarized per source — the direct
    oracle on :func:`pii_scrub_clean`'s OUTPUT (the pipeline queries
    only certify its downstream count effects): docs, redacted docs,
    post-redaction characters, and an order-independent checksum of
    every (doc_id, scrubbed text) pair, so a single wrong replacement
    token or class ordering flips the hash.

    Columns: source, n_docs, n_redacted, chars_after, text_checksum.
    """
    scrubbed = pii_scrub_clean(_curation_corpus(spark, sf_dir))
    row_ck = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("pii#"),
                    F.col("doc_id").cast("string"),
                    F.lit("#"),
                    F.col("text"),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pii_hit").cast("bigint").alias("n_redacted"),
            F.sum(F.length("text")).cast("bigint").alias("chars_after"),
            F.sum(row_ck.cast("decimal(38,0)")).cast("string")
            .alias("text_checksum"),
        )
        .orderBy("source")
    )


@memo_col
def _assign_cells_cols() -> dict:
    """Constant Column trees of :func:`assign_cells` (memo_col — the
    assignment runs per advance in the incremental pipelines)."""
    from ..functions.vectors import dot

    cdenom = F.col("enorm") * F.col("cnorm")
    ckey = F.coalesce(
        F.round(
            F.when(cdenom > 0, dot("embedding", "cvec") / cdenom).otherwise(
                F.lit(None).cast("double")
            ),
            9,
        ),
        F.lit(-2.0),
    )
    return {
        "scored": [
            F.col("vec_id"),
            F.col("embedding"),
            F.col("enorm"),
            F.col("cent_id"),
            ckey.alias("ckey"),
        ],
        "aggs": [
            F.max(
                F.struct(
                    F.col("ckey"),
                    (-F.col("cent_id")).alias("neg"),
                    F.col("cent_id"),
                )
            ).alias("b"),
            F.first("embedding").alias("embedding"),
            F.first("enorm").alias("enorm"),
        ],
        "out": [
            F.col("vec_id"),
            F.col("embedding"),
            F.col("enorm"),
            F.col("b.cent_id").alias("cell"),
        ],
    }


def assign_cells(sv: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid cell per vector: 9-dp cosine key against the
    broadcast centroid set, ties toward the lower cent_id —
    similarity.semdedup_prune's assignment rule, factored out so the
    one-shot pipeline and the versioned cell index
    (curation_incremental.advance_cell_index) run the IDENTICAL
    expression tree.  Input ``sv``: (vec_id, embedding, enorm);
    ``cent``: (cent_id, cvec, cnorm).  Output: (vec_id, embedding,
    enorm, cell)."""
    ac = _assign_cells_cols()
    return (
        sv.join(F.broadcast(cent))
        .select(*ac["scored"])
        .groupBy("vec_id")
        .agg(*ac["aggs"])
        .select(*ac["out"])
    )


@memo_col
def _stage_cols() -> dict:
    """Constant Column trees of the curation stage chain, built once
    per process (memo_col) — four queries build this chain, twice each
    per bench run."""
    return {
        "scored": [
            F.col("doc_id"),
            F.col("source"),
            F.col("text"),
            F.col("pii_hit"),
            token_count("text").alias("n_tok"),
            quality_score("text").alias("q"),
            language_id("text").alias("lp"),
            F.md5(F.concat_ws(" ", tokens("text")).cast("binary")).alias("fp"),
        ],
        "passed_pred": (F.col("q") >= 0.4) & (F.col("lp") != "und"),
        "rn": F.row_number().over(W.partitionBy("fp").orderBy("doc_id")),
        "rn_is_1": F.col("rn") == 1,
        "d2_as_doc": F.col("d2").alias("doc_id"),
        "eval_gram": F.explode("grams").alias("gram"),
        "is_eval": F.col("doc_id") % 50 == 0,
        "not_eval": F.col("doc_id") % 50 != 0,
        "surv_grams": [
            F.col("doc_id"),
            F.size("grams").cast("bigint").alias("n_grams"),
            F.explode("grams").alias("gram"),
        ],
        "n_hit": F.count(F.lit(1)).alias("n_hit"),
        "contam_pred": (
            F.col("n_hit").cast("double") / F.col("n_grams")
            >= CONTAM_THRESHOLD
        ),
    }


@memo_col
def _sem_pair_cols() -> dict:
    """Constant Column trees of the SemDeDup same-cell pair scorer."""
    from ..functions.vectors import dot
    from .similarity import SEMDEDUP_TAU

    pdenom = F.col("n1") * F.col("n2")
    psim = F.when(pdenom > 0, dot("v1", "v2") / pdenom).otherwise(
        F.lit(None).cast("double")
    )
    return {
        "pa": [
            F.col("vec_id").alias("jd"),
            F.col("embedding").alias("v1"),
            F.col("enorm").alias("n1"),
            F.col("cell"),
        ],
        "pb": [
            F.col("vec_id"),
            F.col("embedding").alias("v2"),
            F.col("enorm").alias("n2"),
            F.col("cell"),
        ],
        "jd_lt_vec": F.col("jd") < F.col("vec_id"),
        "sim_pred": F.round(psim, 9) >= SEMDEDUP_TAU,
        "vec_as_doc": F.col("vec_id").alias("doc_id"),
    }


def _curation_stages(
    spark: SparkSession,
    sf_dir: str,
    semantic: bool = False,
    neardup_pairs: DataFrame | None = None,
    cells: DataFrame | None = None,
    corpus: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The per-stage survivor frames, shared by the count rollup
    (:func:`stage_rollup`, behind all three curation pipelines), the
    clean-corpus sink (``write_clean_corpus``) and the shard feed
    (``curation_incremental.curation_shards_cdf``): scored → passed →
    exact → neardup → [semantic →] clean, each carrying (doc_id,
    source, text, pii_hit, n_tok).
    With ``semantic=True`` a SemDeDup embedding-space prune runs
    between the near-dup and decontamination stages (and decontam is
    rooted on its survivors).

    Standing-index injection (curation_incremental): ``neardup_pairs``
    — a precomputed (d1, d2) ledger of ALL corpus pairs with estimated
    Jaccard ≥ NEAR_DUP_TAU — replaces the signature/banding recompute
    (pairs restricted to exact-survivor sides give exactly the
    recomputed drop set: band collision and signature agreement are
    pair-local properties, so corpus-wide pairs ∩ survivors² ≡ pairs
    among survivors); ``cells`` — a precomputed (vec_id, cell)
    assignment under the same pinned quantizer — replaces the
    broadcast assignment pass (assignment is per-vector, so the
    restriction to survivors commutes the same way)."""
    # round-11: the PII scrub runs AT INGESTION — every downstream
    # stage (scores, fingerprints, signatures, decontam grams) sees
    # scrubbed text, and the incremental pipeline's standing indexes
    # are built over the same scrubbed corpus (pair-local properties
    # commute with the restriction either way).  TWO consumers read
    # it (the scored projection and the decontam gram pass), so the
    # scrub + injection regexes run once via a cache; a caller that
    # already holds (and cached) the identical frame passes it in
    # (curation_pipeline_incremental — its ingest waves are a third
    # and fourth consumer).
    sc = _stage_cols()
    if corpus is None:
        corpus = pii_scrub_clean(_curation_corpus(spark, sf_dir)).cache()
    # scored feeds four consumers (raw rollup + every downstream
    # stage); score/fingerprint once.  Fixed-width columns + text —
    # at 100 TB this cache would be a bronze parquet layer instead
    # (sources/parquetio), same plan shape.
    scored = corpus.select(*sc["scored"]).cache()
    passed = scored.filter(sc["passed_pred"])
    exact = (
        passed.withColumn("rn", sc["rn"])
        .filter(sc["rn_is_1"])
        .drop("rn")
    )

    # Near-dup prune among exact survivors: signatures are K longs/doc
    # (cache is tiny); the band join only materializes colliding pairs.
    # With a standing pair ledger the whole recompute collapses to two
    # semi-join restrictions on the (already thresholded) pairs.
    if neardup_pairs is not None:
        ids = exact.select("doc_id")
        drop = (
            neardup_pairs.join(
                ids.withColumnRenamed("doc_id", "d1"), "d1", "left_semi"
            )
            .join(ids.withColumnRenamed("doc_id", "d2"), "d2", "left_semi")
            .select(sc["d2_as_doc"])
            .distinct()
        )
    else:
        sig = signatures_df(exact.select("doc_id", "text")).cache()
        bands = band_keys_df(sig)
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .distinct()
        )
        drop = (
            estimate_pairs(cand, sig)
            .filter(F.col("est_jaccard") >= NEAR_DUP_TAU)
            .select(sc["d2_as_doc"])
            .distinct()
        )
    neardup = exact.join(drop, "doc_id", "left_anti").cache()

    # Optional SemDeDup stage (similarity.semdedup_prune's rule, rooted
    # on the near-dup SURVIVORS): assign each survivor's embedding to
    # its nearest seeded-quantizer cell (√N-derived cell count, one
    # broadcast pass), score same-cell pairs, drop doc i when some
    # same-cell j < i has cos ≥ τ.  The augmented planted copies
    # (doc_id + 1e6) have no embedding row and pass through — text-space
    # and embedding-space dedup are complementary gates, not the same
    # gate twice.  Candidate work is cell-local (O(N^1.5) total at the
    # derived cell count); bodies never join — only (id, vector) rows.
    semantic_stage = None
    if semantic:
        from ..functions.vectors import l2_norm
        from .similarity import coarse_nlist

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding", l2_norm("embedding").alias("enorm")
        )
        sv = neardup.select(F.col("doc_id").alias("vec_id")).join(emb, "vec_id")
        if cells is not None:
            # standing cell index: the assignment pass collapses to a
            # join on the persisted (vec_id, cell) rows
            assigned = sv.join(cells, "vec_id").select(
                "vec_id", "embedding", "enorm", "cell"
            ).cache()
        else:
            # footer-count: the count() only sizes the quantizer and
            # footers give the identical number without a Spark job
            from ..sources.registry import table_row_count

            nlist = coarse_nlist(table_row_count(sf_dir, "embeddings"))
            cent = emb.filter(F.col("vec_id") < nlist).select(
                F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("cvec"),
                F.col("enorm").alias("cnorm"),
            )
            # the pair self-join consumes assigned TWICE (and the
            # anti-join a third time): cache or the broadcast
            # assignment pass re-runs per consumer
            assigned = assign_cells(sv, cent).cache()
        smc = _sem_pair_cols()
        pa = assigned.select(*smc["pa"])
        pb = assigned.select(*smc["pb"])
        sem_drop = (
            pa.join(pb, "cell")
            .filter(smc["jd_lt_vec"])
            .filter(smc["sim_pred"])
            .select(smc["vec_as_doc"])
            .distinct()
        )
        semantic_stage = neardup.join(sem_drop, "doc_id", "left_anti").cache()

    decontam_base = semantic_stage if semantic else neardup

    # Decontamination: the eval split (doc_id % 50 = 0, the synthetic
    # convention from operators/decontam.py) is carved from the FULL
    # corpus — an eval suite exists independently of what curation
    # keeps — then train survivors with ≥ 30% distinct-5-gram overlap
    # are dropped.  Eval grams broadcast; survivor bodies never shuffle.
    # The gram pass runs over the full corpus ONCE and is cached (see
    # the module docstring's A/B note for why this beats survivor-only
    # gram computation at test scale, and when to flip it).
    grams = grams_for(corpus.select("doc_id", "text")).cache()
    eval_grams = (
        grams.filter(sc["is_eval"]).select(sc["eval_gram"]).distinct()
    )
    train = decontam_base.filter(sc["not_eval"])
    surv_grams = train.select("doc_id").join(grams, "doc_id").select(
        *sc["surv_grams"]
    )
    contaminated = (
        surv_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id", "n_grams")
        .agg(sc["n_hit"])
        .filter(sc["contam_pred"])
        .select("doc_id")
    )
    clean = train.join(contaminated, "doc_id", "left_anti")
    out = {
        "scored": scored,
        "passed": passed,
        "exact": exact,
        "neardup": neardup,
        "clean": clean,
    }
    if semantic:
        out["semantic"] = semantic_stage
    return out


#: The stage ladder in pipeline order: stage frame → survivor count.
_LADDER = {
    "scored": "n_raw", "passed": "n_quality", "exact": "n_exact",
    "neardup": "n_neardup", "semantic": "n_semantic", "clean": "n_clean",
}


@memo_col
def _rollup_cols(semantic: bool) -> dict:
    """Constant Column trees of :func:`stage_rollup`, one set per
    ladder: the per-stage projections in ladder order and the
    aggregates in output column order."""
    ladder = [st for st in _LADDER if semantic or st != "semantic"]
    zero = F.lit(0).cast("long")
    counts = [
        F.count(F.when(F.col("stage") == i, 1)).alias(_LADDER[st])
        for i, st in enumerate(ladder)
    ]
    return {
        "proj": {
            st: [
                F.col("source"),
                F.lit(i).alias("stage"),
                (F.col("pii_hit").cast("long") if st == "scored" else zero)
                .alias("pii_hit"),
                (F.col("n_tok") if st == "clean" else zero).alias("n_tok"),
            ]
            for i, st in enumerate(ladder)
        },
        "aggs": [
            counts[0],
            F.sum("pii_hit").alias("n_pii_redacted"),
            *counts[1:],
            F.sum("n_tok").alias("clean_tokens"),
        ],
    }


def stage_rollup(stages: dict[str, DataFrame]) -> DataFrame:
    """Per-source survivor count at every stage of a
    :func:`_curation_stages` ladder, plus the redacted docs (on
    ``scored``) and the clean set's total tokens — ONE ``groupBy``
    over the union of the stage frames, each projected to (source,
    stage index, pii_hit, n_tok), so partial aggregation runs inside
    each stage's own plan and the rollup adds one shuffle.  Every
    source has a ``scored`` row and the other branches carry 0, so no
    count or sum is null.

    Columns: source, n_raw, n_pii_redacted, n_quality, n_exact,
    n_neardup, [n_semantic,] n_clean, clean_tokens.
    """
    rc = _rollup_cols("semantic" in stages)
    frames = [stages[st].select(*cols) for st, cols in rc["proj"].items()]
    return (
        functools.reduce(DataFrame.union, frames)
        .groupBy("source")
        .agg(*rc["aggs"])
        .orderBy("source")
    )


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: docs surviving each curation stage, and the total
    whitespace tokens of the final clean set.  The corpus is PII-
    scrubbed at ingestion (round 11 — see :func:`pii_scrub_clean`);
    ``n_pii_redacted`` counts the docs whose text was redacted.

    Columns: source, n_raw, n_pii_redacted, n_quality, n_exact,
    n_neardup, n_clean, clean_tokens.
    """
    return stage_rollup(_curation_stages(spark, sf_dir))


# DuckDB twin: the stage CTEs are the proven fragments from the
# standalone oracles (quality scoring from ORACLE_QUALITY_GATE,
# MinHash/LSH from ORACLE_MINHASH_LSH, grams from ORACLE_DECONTAM),
# re-rooted on the augmented corpus and chained.
#: DuckDB twins of the ingestion-time PII scrub (round 11): the
#: deterministic payload injection, the ordered per-class redaction,
#: and the any-class hit flag — shared by the pipeline, semantic, and
#: standalone-corpus oracles.
_SQL_PII_T0 = """CASE
      WHEN doc_id % 10 = 0 THEN text
        || ' see https://example.com/x?id=' || CAST(doc_id % 1000000 AS VARCHAR)
        || ' or mail u' || CAST(doc_id % 1000000 AS VARCHAR) || '@test.org now'
      WHEN doc_id % 10 = 5 THEN text
        || ' call 555-123-4567 or ping 10.0.' || CAST(doc_id % 250 AS VARCHAR)
        || '.7 now'
      ELSE text END"""

_SQL_PII_SCRUB = "t0"
for _pat, _tok in PII_CLASSES:
    _SQL_PII_SCRUB = f"regexp_replace({_SQL_PII_SCRUB}, '{_pat}', '{_tok}', 'g')"

_SQL_PII_HIT = " OR ".join(
    f"regexp_matches(t0, '{_pat}')" for _pat, _tok in PII_CLASSES
)

ORACLE_CURATION_PIPELINE = f"""
WITH corpus0 AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source,
         substr(text, 1, (length(text) * 4) // 5) AS text
  FROM documents WHERE doc_id < 10
),
pii AS (
  SELECT doc_id, source, {_SQL_PII_T0} AS t0 FROM corpus0
),
corpus AS (
  SELECT doc_id, source, {_SQL_PII_SCRUB} AS text,
    CASE WHEN {_SQL_PII_HIT} THEN 1 ELSE 0 END AS pii_hit
  FROM pii
),
base AS (
  SELECT doc_id, source, text, trim(text) AS t,
    CAST(length(trim(text)) AS DOUBLE) AS n_chars,
    {_SQL_TOKS} AS toks
  FROM corpus
),
m AS (
  SELECT doc_id, source, text, t, n_chars, toks,
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
  SELECT doc_id, source, text, n_tok, fp,
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
exact AS (
  SELECT doc_id, source, text, n_tok FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM passed
  ) WHERE rn = 1
),
t2 AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM exact),
tht AS (SELECT doc_id, toks, {_SQL_TOKEN_HASHES} AS th FROM t2),
hbt AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hb FROM tht),
s AS (SELECT doc_id, {_SQL_SIG} AS sig FROM hbt),
bands AS (
  SELECT doc_id, unnest(range({LSH_BANDS})) AS band, sig FROM s
),
keyed AS (
  SELECT doc_id, band,
    array_to_string(sig[band*{LSH_ROWS}+1 : band*{LSH_ROWS}+{LSH_ROWS}], '_') AS key
  FROM bands
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
strong AS (
  SELECT DISTINCT d2 AS doc_id
  FROM cand
  JOIN s s1 ON d1 = s1.doc_id
  JOIN s s2 ON d2 = s2.doc_id
  WHERE ROUND(CAST(list_sum(list_transform(range({MINHASH_K}),
      i -> CASE WHEN s1.sig[i+1] = s2.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE)
    / {MINHASH_K}, 6) >= {NEAR_DUP_TAU}
),
neardup AS (
  SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM strong)
),
gt AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
gth AS (SELECT doc_id, toks, {_SQL_TH} AS th FROM gt),
g AS (SELECT doc_id, {_sql_gram5()} AS grams FROM gth),
eval_grams AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 0
),
train AS (SELECT * FROM neardup WHERE doc_id % 50 <> 0),
sg AS (
  SELECT tr.doc_id, CAST(len(g.grams) AS BIGINT) AS n_grams,
         unnest(g.grams) AS gram
  FROM train tr JOIN g ON tr.doc_id = g.doc_id
),
contaminated AS (
  SELECT doc_id FROM (
    SELECT doc_id, n_grams, COUNT(*) AS n_hit
    FROM sg JOIN eval_grams USING (gram)
    GROUP BY doc_id, n_grams
  ) WHERE CAST(n_hit AS DOUBLE) / n_grams >= {CONTAM_THRESHOLD}
),
clean AS (
  SELECT * FROM train WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
raw_counts AS (SELECT source, COUNT(*) AS n_raw FROM scored GROUP BY source),
pii_counts AS (
  SELECT source, CAST(SUM(pii_hit) AS BIGINT) AS n_pii_redacted
  FROM corpus GROUP BY source
),
qual_counts AS (SELECT source, COUNT(*) AS n_quality FROM passed GROUP BY source),
exact_counts AS (SELECT source, COUNT(*) AS n_exact FROM exact GROUP BY source),
nd_counts AS (SELECT source, COUNT(*) AS n_neardup FROM neardup GROUP BY source),
clean_counts AS (
  SELECT source, COUNT(*) AS n_clean, CAST(SUM(n_tok) AS BIGINT) AS clean_tokens
  FROM clean GROUP BY source
)
SELECT r.source, r.n_raw,
  p.n_pii_redacted,
  COALESCE(q.n_quality, 0) AS n_quality,
  COALESCE(e.n_exact, 0) AS n_exact,
  COALESCE(n.n_neardup, 0) AS n_neardup,
  COALESCE(c.n_clean, 0) AS n_clean,
  COALESCE(c.clean_tokens, 0) AS clean_tokens
FROM raw_counts r
LEFT JOIN pii_counts p ON r.source = p.source
LEFT JOIN qual_counts q ON r.source = q.source
LEFT JOIN exact_counts e ON r.source = e.source
LEFT JOIN nd_counts n ON r.source = n.source
LEFT JOIN clean_counts c ON r.source = c.source
ORDER BY r.source
"""


ORACLE_PII_CORPUS = f"""
WITH corpus0 AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source,
         substr(text, 1, (length(text) * 4) // 5) AS text
  FROM documents WHERE doc_id < 10
),
pii AS (
  SELECT doc_id, source, {_SQL_PII_T0} AS t0 FROM corpus0
),
scrubbed AS (
  SELECT doc_id, source, {_SQL_PII_SCRUB} AS text,
    CASE WHEN {_SQL_PII_HIT} THEN 1 ELSE 0 END AS pii_hit
  FROM pii
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(pii_hit) AS BIGINT) AS n_redacted,
  CAST(SUM(length(text)) AS BIGINT) AS chars_after,
  CAST(SUM(CAST(CAST(('0x' || substr(md5('pii#' || CAST(doc_id AS VARCHAR)
    || '#' || text), 1, 15)) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR)
    AS text_checksum
FROM scrubbed GROUP BY source ORDER BY source
"""


def write_clean_corpus(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """Run the full curation pipeline and WRITE the clean corpus as
    ``source=X/`` hive-partitioned parquet under ``out_dir``; return a
    per-source manifest recomputed FROM THE WRITTEN FILES (certifying
    the sink, not the plan — same contract as
    ``trainprep.write_training_shards``).

    Layout contract for a training loader: every surviving doc in
    exactly one source directory, files internally ordered by doc_id
    so downstream sequence packing is reproducible.  Writer
    parallelism comes from a 4-way doc_id-hash salt inside each
    source (``repartition(source, salt)``) — without it one giant
    source pins one writer task at 100 TB; with it a source's rows
    span up to 4 files, each still doc_id-sorted.

    Manifest columns: source, n_docs, total_tokens, min_doc_id,
    max_doc_id — ``(n_docs, total_tokens)`` must equal
    ``curation_pipeline``'s ``(n_clean, clean_tokens)`` for every
    source that kept at least one doc (asserted in
    tests/test_curation_ops.py; a fully-pruned source has no files,
    so it appears in the counts query but not here).
    """
    clean = _curation_stages(spark, sf_dir)["clean"].select(
        "doc_id", "source", "text"
    )
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(4)).alias("salt")
    (
        clean.withColumn("salt", salt)
        .repartition("source", "salt")
        .sortWithinPartitions("source", "doc_id")
        .drop("salt")
        .write.partitionBy("source")
        .mode("overwrite")
        .parquet(out_dir)
    )
    written = spark.read.parquet(out_dir).select(
        F.col("source").cast("string").alias("source"),
        "doc_id",
        token_count("text").alias("n_tokens"),
    )
    return (
        written.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source")
    )


def curation_pipeline_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five-stage curation pipeline: quality gate → exact dedup →
    MinHash/LSH near-dup prune → SemDeDup embedding-space prune →
    decontamination, with per-source survival counts at every stage —
    the text-space pipeline (`curation_pipeline`) plus the semantic
    gate modern curation stacks run after lexical dedup (paraphrases
    and re-renders share embeddings but not shingles).

    Columns: source, n_raw, n_pii_redacted, n_quality, n_exact,
    n_neardup, n_semantic, n_clean, clean_tokens.  Still ONE DataFrame
    plan: the semantic stage adds a broadcast cell-assignment pass and
    one cell-local equi-join over (id, vector) rows — document bodies
    never enter it.
    """
    return stage_rollup(_curation_stages(spark, sf_dir, semantic=True))


# DuckDB twin: the quality/exact/near-dup prefix is textually the
# SAME proven CTE chain as ORACLE_CURATION_PIPELINE (sliced at the
# decontam root); the semantic CTEs re-root similarity.ORACLE_SEMDEDUP's
# cell/score/prune fragments on the near-dup survivors.
from .similarity import SEMDEDUP_TAU as _SEM_TAU  # noqa: E402
from .similarity import _SQL_COS_AB as _COS  # noqa: E402
from .similarity import _SQL_L2 as _L2  # noqa: E402
from .similarity import _SQL_NLIST as _NLIST  # noqa: E402

_SQL_STAGES_PREFIX = ORACLE_CURATION_PIPELINE.split("\ngt AS")[0]

ORACLE_CURATION_SEMANTIC = (
    _SQL_STAGES_PREFIX
    + f"""
emb AS (
  SELECT vec_id, embedding, {_L2.format(v="embedding")} AS enorm
  FROM embeddings
),
centv AS (
  SELECT vec_id AS cent_id, embedding AS cvec, enorm AS cnorm
  FROM emb WHERE vec_id < {_NLIST}
),
sv AS (
  SELECT nd.doc_id AS vec_id, e.embedding, e.enorm
  FROM neardup nd JOIN emb e ON nd.doc_id = e.vec_id
),
scoredv AS (
  SELECT s.vec_id, s.embedding, s.enorm, c.cent_id,
    COALESCE(ROUND(CASE WHEN s.enorm * c.cnorm > 0
      THEN {_COS.format(a="s.embedding", b="c.cvec")} / (s.enorm * c.cnorm)
      END, 9), -2.0) AS ckey
  FROM sv s CROSS JOIN centv c
),
assignedv AS (
  SELECT vec_id, embedding, enorm, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ckey DESC, cent_id) AS rn
    FROM scoredv
  ) WHERE rn = 1
),
sem_drop AS (
  SELECT DISTINCT b.vec_id AS doc_id
  FROM assignedv a JOIN assignedv b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(CASE WHEN a.enorm * b.enorm > 0
    THEN {_COS.format(a="a.embedding", b="b.embedding")} / (a.enorm * b.enorm)
    END, 9) >= {_SEM_TAU}
),
semantic AS (
  SELECT * FROM neardup WHERE doc_id NOT IN (SELECT doc_id FROM sem_drop)
),
gt AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
gth AS (SELECT doc_id, toks, {_SQL_TH} AS th FROM gt),
g AS (SELECT doc_id, {_sql_gram5()} AS grams FROM gth),
eval_grams AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 0
),
train AS (SELECT * FROM semantic WHERE doc_id % 50 <> 0),
sg AS (
  SELECT tr.doc_id, CAST(len(g.grams) AS BIGINT) AS n_grams,
         unnest(g.grams) AS gram
  FROM train tr JOIN g ON tr.doc_id = g.doc_id
),
contaminated AS (
  SELECT doc_id FROM (
    SELECT doc_id, n_grams, COUNT(*) AS n_hit
    FROM sg JOIN eval_grams USING (gram)
    GROUP BY doc_id, n_grams
  ) WHERE CAST(n_hit AS DOUBLE) / n_grams >= {CONTAM_THRESHOLD}
),
clean AS (
  SELECT * FROM train WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
raw_counts AS (SELECT source, COUNT(*) AS n_raw FROM scored GROUP BY source),
pii_counts AS (
  SELECT source, CAST(SUM(pii_hit) AS BIGINT) AS n_pii_redacted
  FROM corpus GROUP BY source
),
qual_counts AS (SELECT source, COUNT(*) AS n_quality FROM passed GROUP BY source),
exact_counts AS (SELECT source, COUNT(*) AS n_exact FROM exact GROUP BY source),
nd_counts AS (SELECT source, COUNT(*) AS n_neardup FROM neardup GROUP BY source),
sem_counts AS (SELECT source, COUNT(*) AS n_semantic FROM semantic GROUP BY source),
clean_counts AS (
  SELECT source, COUNT(*) AS n_clean, CAST(SUM(n_tok) AS BIGINT) AS clean_tokens
  FROM clean GROUP BY source
)
SELECT r.source, r.n_raw,
  p.n_pii_redacted,
  COALESCE(q.n_quality, 0) AS n_quality,
  COALESCE(e.n_exact, 0) AS n_exact,
  COALESCE(n.n_neardup, 0) AS n_neardup,
  COALESCE(sm.n_semantic, 0) AS n_semantic,
  COALESCE(c.n_clean, 0) AS n_clean,
  COALESCE(c.clean_tokens, 0) AS clean_tokens
FROM raw_counts r
LEFT JOIN pii_counts p ON r.source = p.source
LEFT JOIN qual_counts q ON r.source = q.source
LEFT JOIN exact_counts e ON r.source = e.source
LEFT JOIN nd_counts n ON r.source = n.source
LEFT JOIN sem_counts sm ON r.source = sm.source
LEFT JOIN clean_counts c ON r.source = c.source
ORDER BY r.source
"""
)


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    curation_pipeline: ORACLE_CURATION_PIPELINE,
    curation_pipeline_semantic: ORACLE_CURATION_SEMANTIC,
    pii_scrub_corpus: ORACLE_PII_CORPUS,
}
