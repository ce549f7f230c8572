"""Differential fuzzing: random corpora through BOTH engines.

The per-round driver gate and scripts/oracle_check.py difference every
query against its DuckDB twin on the FIXED testdata corpora.  This
fuzzer generates adversarial corpora (NULL / empty / whitespace-only /
punctuation-heavy / unicode text, duplicate contents, single-doc
sources) with hypothesis and asserts the same rows+schema+values gate
on the text operators whose NULL- and empty-document paths have the
most edge surface.  A parity bug that only manifests on a corpus shape
absent from the fixed testdata (round 3's gopher NULL-text asymmetry
was exactly that class) fails here before the driver ever sees it.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from f1_data_engineering_spark.operators import analytics6 as A6F
from f1_data_engineering_spark.operators import dedup as DD
from f1_data_engineering_spark.operators import multimodal as MM
from f1_data_engineering_spark.operators import textops as TX
from f1_data_engineering_spark.operators import udtf_ops as UT

#: every test in this module is a soak test (SPARK_GRAFT_FULL_TESTS=1)
pytestmark = pytest.mark.soak

_SPEC = importlib.util.spec_from_file_location(
    "oracle_check",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "oracle_check.py",
    ),
)
_ORACLE_CHECK = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(_ORACLE_CHECK)
compare = _ORACLE_CHECK.compare


def _n_examples(default: int) -> int:
    """Soak knob: SPARK_GRAFT_FUZZ_EXAMPLES scales every fuzz test's
    example count by default-relative proportion (e.g. =40 runs the
    8-example tests at 40 and the 4-example tests at 20)."""
    base = int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))
    return max(1, round(base * default / 8)) if base else default

# printable ASCII + a little unicode + the symbols the gopher rules
# key on; whitespace variety exercises the tokenizer's \s+ split
_ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " \t\n  .,;:!?#'\"()[]-_/\\@%&*+=<>~`^|{}"
    "äöüßéèñ中日"
)

_text = st.one_of(
    st.none(),
    st.text(alphabet=_ALPHABET, min_size=0, max_size=200),
    # duplicate-prone: small closed vocabulary → exact dups across docs
    st.lists(
        st.sampled_from(["the quick", "brown fox", "lazy dog", "# tag", "..."]),
        min_size=0,
        max_size=8,
    ).map(" ".join),
)

_corpus = st.lists(
    st.tuples(
        _text,
        st.sampled_from(["en", "de", "fr", "zz"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    min_size=1,
    max_size=25,
)

#: (name, spark fn, oracle SQL) — text operators with the widest
#: NULL/empty/unicode edge surface; all read only ``documents``.
FUZZ_QUERIES = [
    ("text_stats", TX.text_stats, TX.ORACLE_TEXT_STATS),
    ("quality_scores", TX.quality_scores, TX.ORACLE_QUALITY),
    ("gopher_rules", TX.gopher_rules, TX.ORACLE_GOPHER),
    ("doc_fingerprints", TX.doc_fingerprints, TX.ORACLE_FINGERPRINTS),
    ("segment_dedup_stats", DD.segment_dedup_stats, DD.ORACLE_SEGMENT_DEDUP),
    # fingerprint-keyed queries: DuckDB array_to_string([]) returning
    # NULL (vs concat_ws '') made zero-token docs diverge here — the
    # bug class this fuzzer exists for
    ("dedup_exact", DD.dedup_exact, DD.ORACLE_DEDUP_EXACT),
    ("dedup_keep_first", DD.dedup_keep_first, DD.ORACLE_DEDUP_KEEP),
    ("source_overlap_matrix", TX.source_overlap_matrix, TX.ORACLE_SOURCE_OVERLAP),
    ("dataset_card", TX.dataset_card, TX.ORACLE_DATASET_CARD),
    # Python-UDTF leg: sentence boundaries over arbitrary unicode /
    # punctuation-only / NULL text
    ("sentence_split", UT.sentence_split, UT.ORACLE_SENTENCES),
    # round-4 text-distribution wave: entropy's empty-doc left-join
    # path and PMI's vocab tie-breaks under duplicate-heavy corpora
    ("token_entropy", TX.token_entropy, TX.ORACLE_TOKEN_ENTROPY),
    ("term_cooccurrence_pmi", TX.term_cooccurrence_pmi, TX.ORACLE_TERM_PMI),
    # multimodal plumbing: blob synthesis + mapInPandas demux over
    # NULL/empty/unicode documents (the NULL-blob crash class)
    ("blob_metadata", MM.blob_metadata, MM.ORACLE_BLOB_METADATA),
    ("frame_sample_census", MM.frame_sample_census, MM.ORACLE_FRAME_CENSUS),
    # round-6: G² keyness (zero cells, single-side corpora), vocab
    # coverage (all-OOV sources, NULL text), containment (planted
    # substring geometry), and the LSH recall audit's exact-vs-banding
    # composition over degenerate corpora (may yield zero true pairs)
    ("keyness_g2", TX.keyness_g2, TX.ORACLE_KEYNESS),
    ("vocab_coverage_eval", A6F.vocab_coverage_eval, A6F.ORACLE_VOCAB_COVERAGE),
    ("ngram_containment_pairs", DD.ngram_containment_pairs, DD.ORACLE_CONTAINMENT_PAIRS),
    ("lsh_recall_audit", DD.lsh_recall_audit, DD.ORACLE_LSH_RECALL),
]


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("diff_fuzz")


_run_counter = [0]


@settings(
    max_examples=_n_examples(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpus)
# regression (r5): NULL-text doc — Spark's bpe_ish_token_count coalesces
# NULL→0 while the oracle's bare len(regexp_extract_all(...)) gave NULL
# (int64-vs-float64 under the dtype-strict gate)
@example(corpus=[(None, "en", "A")])
def test_text_operators_differential_fuzz(spark, fuzz_dir, corpus):
    _run_counter[0] += 1
    sf_dir = str(fuzz_dir / f"case{_run_counter[0]}")
    rows = [
        (i, t, lang, src, len(t) if t is not None else 0)
        for i, (t, lang, src) in enumerate(corpus)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )

    con = duckdb.connect()
    # Spark writes the table as a directory of part files; DuckDB needs
    # the glob form
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet', '*.parquet')}'"
    )
    for name, fn, sql in FUZZ_QUERIES:
        sdf = fn(spark, sf_dir).toPandas()
        odf = con.execute(sql).df()
        problems = compare(name, sdf, odf)
        assert not problems, (name, problems, rows)


# --------------------------------------------------------------------------
# events family: timestamp ties + NULL fields through both engines
# --------------------------------------------------------------------------

from datetime import datetime, timedelta

from f1_data_engineering_spark.operators import timeops as TO

_BASE_TS = datetime(2024, 3, 1, 12, 0, 0)

# minute offsets drawn from a SMALL space so duplicate timestamps (the
# tie-break stress case) occur constantly; a few large offsets create
# real session gaps / empty hour buckets
_event = st.tuples(
    st.integers(0, 4),                                  # user_id
    st.integers(0, 90) | st.sampled_from([600, 1200]),  # minutes offset
    st.sampled_from(["click", "view", "purchase"]) | st.none(),
    # value: also duration-seconds for the format round-trips — span
    # multi-hour magnitudes and ms-boundary edges, not just ±100 s
    st.floats(-100000, 100000, allow_nan=False)
    | st.sampled_from([59.9995, -59.9995, 3599.9999, 0.0005, -0.0005])
    | st.none(),
    # props: valid with/without k, malformed, empty, NULL, non-numeric
    # k — the JSON queries' checked contract (fractional k is out of
    # contract: the engines' string->long cast matrices differ)
    st.sampled_from(
        ['{"k": 7}', '{"k": -3}', '{"k": 0}', '{"j": 1}', '{bad',
         "", None, '{"k": "x"}', "[]", '{"k": null}']
    ),
)

_events_corpus = st.lists(_event, min_size=1, max_size=40)

from f1_data_engineering_spark.operators import analytics as ANA
from f1_data_engineering_spark.operators import analytics2 as A2
from f1_data_engineering_spark.operators import analytics3 as A3
from f1_data_engineering_spark.operators import analytics4 as A4
from f1_data_engineering_spark.operators import analytics5 as A5F
from f1_data_engineering_spark.streaming import join_stream as JSF
from f1_data_engineering_spark.operators import analytics7 as A7F
from f1_data_engineering_spark.operators import pandas_ops as PDO
from f1_data_engineering_spark.operators import profiling as PFF
from f1_data_engineering_spark.operators import relational as RL

EVENT_FUZZ_QUERIES = [
    ("json_props_extract", RL.json_props_extract, RL.ORACLE_JSON_PROPS),
    ("variant_props_rollup", RL.variant_props_rollup, RL.ORACLE_VARIANT_PROPS),
    ("hourly_event_rollup", TO.hourly_event_rollup, TO.ORACLE_HOURLY),
    ("sessionize_events", TO.sessionize_events, TO.ORACLE_SESSIONIZE),
    ("asof_join_purchase", TO.asof_join_purchase, TO.ORACLE_ASOF),
    ("latest_event_state", TO.latest_event_state, TO.ORACLE_LATEST_STATE),
    ("moving_hour_sum", TO.moving_hour_sum, TO.ORACLE_MOVING_HOUR),
    ("value_percentiles", TO.value_percentiles, TO.ORACLE_PERCENTILES),
    ("value_histogram", TO.value_histogram, TO.ORACLE_HISTOGRAM),
    ("salted_user_counts", TO.salted_user_counts, TO.ORACLE_SALTED),
    ("value_quartiles", TO.value_quartiles, TO.ORACLE_QUARTILES),
    # Arrow pandas-UDF legs: zero-variance users, single-event users,
    # NULL values through grouped-map zscore and grouped-agg median/IQR
    ("zscore_by_user", PDO.zscore_by_user, PDO.ORACLE_ZSCORE),
    ("user_value_median_iqr", PDO.user_value_median_iqr, PDO.ORACLE_MEDIAN_IQR),
    # F1 duration-format expressions: negative / NULL / sub-ms seconds
    # through format -> parse round-trips in both engines
    ("time_format_roundtrip", TO.time_format_roundtrip, TO.ORACLE_TIME_ROUNDTRIP),
    ("wallclock_formats", TO.wallclock_formats, TO.ORACLE_WALLCLOCK),
    ("boolean_normalize", TO.boolean_normalize, TO.ORACLE_BOOLEAN),
    # windows / ordered-state queries where duplicate timestamps stress
    # the deterministic-tie-break claims hardest
    ("window_value_changes", RL.window_value_changes, RL.ORACLE_WINDOW_CHANGES),
    ("running_total", RL.running_total, RL.ORACLE_RUNNING_TOTAL),
    ("event_type_map_stats", ANA.event_type_map_stats, ANA.ORACLE_MAP_STATS),
    ("null_safe_event_join", ANA.null_safe_event_join, ANA.ORACLE_NULL_SAFE_JOIN),
    ("event_funnel", A2.event_funnel, A2.ORACLE_FUNNEL),
    ("countmin_sketch", A2.countmin_sketch, A2.ORACLE_CMS),
    ("decayed_value_recursive", A2.decayed_value_recursive, A2.ORACLE_DECAYED),
    ("frequent_event_types", A2.frequent_event_types, A2.ORACLE_FREQ),
    ("retention_cohorts", TO.retention_cohorts, TO.ORACLE_RETENTION),
    # round-4 sequence/robust-stats wave: NULL event_type as a
    # transition endpoint / attribution channel / percentile group,
    # NULL values inside rolling frames, duplicate-ts tie-breaks
    ("event_bigram_transitions", A3.event_bigram_transitions, A3.ORACLE_BIGRAM_TRANSITIONS),
    ("first_touch_attribution", A3.first_touch_attribution, A3.ORACLE_FIRST_TOUCH),
    ("sliding_zscore_anomaly", A3.sliding_zscore_anomaly, A3.ORACLE_SLIDING_ZSCORE),
    ("mad_outlier_events", A3.mad_outlier_events, A3.ORACLE_MAD_OUTLIERS),
    # round-5 wave: HLL sketches (NULL users, NULL event types, tiny /
    # single-bucket register tables), exact-lerp winsorization (1-value
    # groups, all-NULL groups, tie-heavy values at interpolation ranks)
    ("hll_distinct_users", A4.hll_distinct_users, A4.ORACLE_HLL),
    ("hll_intersection_estimate", A4.hll_intersection_estimate, A4.ORACLE_HLL_INTERSECTION),
    ("winsorized_stats", A4.winsorized_stats, A4.ORACLE_WINSORIZED),
    # round-6: two-level-fold moments (single-value groups, huge-
    # magnitude values, all-NULL groups), KMV set algebra (groups with
    # < K hashes, single-group corpora → zero pairs), session paths
    # (duplicate timestamps, NULL types), the stream-join batch twin
    # (sub-second lags), and incremental-merge parity (empty slices)
    ("moment_stats", A5F.moment_stats, A5F.ORACLE_MOMENTS),
    ("kmv_set_ops", A5F.kmv_set_ops, A5F.ORACLE_KMV),
    ("top_session_paths", A6F.top_session_paths, A6F.ORACLE_SESSION_PATHS),
    ("view_purchase_join", JSF.view_purchase_join, JSF.ORACLE_VIEW_PURCHASE),
    ("incremental_rollup_merge", A6F.incremental_rollup_merge, A6F.ORACLE_INCR_ROLLUP),
    # round-7: the outer funnel twin (NULL-heavy join sides, views with
    # zero qualifying purchases) and the md5-HLL + exact-quantile sketch
    # profile (all-NULL-user groups, NULL event_type, lerp-rank ties)
    ("view_purchase_outer", JSF.view_purchase_outer, JSF.ORACLE_VIEW_PURCHASE_OUTER),
    ("sketch_summary", PFF.sketch_summary, PFF.ORACLE_SKETCH_SUMMARY),
    # CUSUM: NULL event_type groups (null-safe join legs), duplicate /
    # single-hour series, all-equal counts (zero deviations everywhere)
    ("cusum_event_drift", A7F.cusum_event_drift, A7F.ORACLE_CUSUM),
]


@settings(
    max_examples=_n_examples(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_events_corpus)
# regression (r4-found, r5-fixed): user 1's IQR lands exactly on the
# 14.9998825 six-dp HALF_UP boundary; pandas.quantile and DuckDB
# quantile_cont disagree at the last ulp there, so the two engines
# rounded to 14.999882 vs 14.999883 until both sides were rebuilt on
# one explicit lerp + shortest-repr rounding (pandas_ops._lerp_quantile)
@example(
    corpus=[
        (2, 600, None, 2.2250738585072014e-308, '{"k": 7}'),
        (1, 600, None, 59.9995, "[]"),
        (3, 1200, None, None, '{"k": 0}'),
        (1, 1200, None, 2.2250738585072014e-308, "{bad"),
        (0, 1200, None, None, '{"k": -3}'),
        (1, 14, "view", -1.175494351e-38, ""),
        (3, 600, None, -59.9995, '{"k": null}'),
        (3, 1200, None, 99999.0, '{"k": null}'),
        (3, 9, "purchase", 1e-05, '{"k": null}'),
        (0, 1200, None, 3599.9999, "{bad"),
        (1, 2, None, 1e-05, '{"j": 1}'),
        (3, 1200, None, 0.3333333333333333, '{"k": -3}'),
        (0, 62, "click", 3599.9999, None),
    ]
)
# regression (r5): a single-value group median of -5.96e-08 — DuckDB's
# VARCHAR→DECIMAL(38,6) cast misrounds many-digit scientific-notation
# strings (gave -1e-6; correct is -0.000000), and the -0.0 the Python
# side then produced is hash-visible vs +0.0 — both fixed by the
# scale-30-parse + decimal ROUND oracle chain and the +0.0 fold
@example(
    corpus=[
        (1, 43, "purchase", None, '{"k": null}'),
        (2, 52, "click", None, ""),
        (1, 65, None, -1.9, '{"k": null}'),
        (3, 42, None, None, '{"k": "x"}'),
        (0, 0, "click", None, '{"k": 7}'),
        (1, 0, None, 0.0, '{"k": 7}'),
        (0, 0, None, None, '{"k": 7}'),
        (0, 0, "click", -5.960464477539063e-08, '{"k": 7}'),
    ]
)
# regression (r6): the 'none' group's p99 lerp at m=6, q=0.99 — DuckDB
# typed the bare 0.99 literal as DECIMAL, so (m-1)*0.99 - FLOOR(...) was
# an EXACT 0.95 while the Spark driver's IEEE (m-1)*q carries the
# representation error (0.9500000000000002); the lerped p99 differed in
# the last ulp and the clamped mean crossed the 590.8165675 six-dp HALF
# boundary (568 vs 567).  Fixed by CAST(q AS DOUBLE) in _sql_wins_lerp.
@example(
    corpus=[
        (1, 600, None, 1.9, "[]"),
        (4, 3, None, 0.0005, None),
        (3, 600, None, -2.220446049250313e-16, '{"k": -3}'),
        (3, 600, "click", -2.220446049250313e-16, "{bad"),
        (4, 600, "view", None, '{"k": 7}'),
        (2, 27, "click", None, '{"j": 1}'),
        (2, 71, None, 3599.9999, '{"k": "x"}'),
        (4, 3, "purchase", -59.9995, '{"k": 7}'),
        (2, 1200, None, None, "{bad"),
        (3, 75, None, None, "{bad"),
        (2, 14, "purchase", None, ""),
        (4, 67, None, 59.9995, '{"k": "x"}'),
        (2, 1200, None, 59.9995, '{"k": 0}'),
        (0, 42, "view", None, '{"j": 1}'),
        (4, 0, "click", 59.9995, '{"k": 7}'),
    ]
)
def test_event_operators_differential_fuzz(spark, fuzz_dir, corpus):
    """Window / sessionization / as-of / percentile operators under
    adversarial event streams: duplicated timestamps on every key (the
    deterministic-tie-break claims), NULL event_type/value, sparse and
    dense hours.  Same rows+schema+values gate as the driver."""
    _run_counter[0] += 1
    sf_dir = str(fuzz_dir / f"ev{_run_counter[0]}")
    rows = [
        (i, _BASE_TS + timedelta(minutes=mins), uid, et, val, props)
        for i, (uid, mins, et, val, props) in enumerate(corpus)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )

    con = duckdb.connect()
    # Spark writes TimestampType as UTC-adjusted (isAdjustedToUTC=true),
    # which DuckDB surfaces as TIMESTAMPTZ; the session timezone is UTC
    # (session.py), so casting to naive TIMESTAMP recovers the same
    # wall-clock values the Spark side computes with — the shape the
    # fixed testdata (unannotated micros) already has.
    con.execute("SET timezone = 'UTC'")
    con.execute(
        "CREATE VIEW events AS SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) "
        f"FROM '{os.path.join(sf_dir, 'events.parquet', '*.parquet')}'"
    )
    for name, fn, sql in EVENT_FUZZ_QUERIES:
        sdf = fn(spark, sf_dir).toPandas()
        odf = con.execute(sql).df()
        problems = compare(name, sdf, odf)
        assert not problems, (name, problems, rows)


# --------------------------------------------------------------------------
# embeddings family: zero vectors, duplicates, degenerate geometry
# --------------------------------------------------------------------------

from f1_data_engineering_spark.operators import similarity as SIM

# values exact in float32 so Spark's float storage round-trips; the
# all-zero vector (NULL cosine, zero quantization scale) and duplicated
# base vectors (tie-break stress in top-k ranks) appear constantly
_vec_component = st.sampled_from([-2.0, -1.0, -0.25, 0.0, 0.25, 1.0, 2.5])


@st.composite
def _embeddings_corpus(draw):
    n = draw(st.integers(6, 20))
    n_base = draw(st.integers(1, 4))
    bases = [
        tuple(draw(_vec_component) for _ in range(SIM.DIM)) for _ in range(n_base)
    ]
    rows = []
    for i in range(n):
        kind = draw(st.integers(0, 5))
        if kind == 0:
            vec = (0.0,) * SIM.DIM  # zero vector: NULL cosine, 0 scale
        elif kind <= 2:
            vec = bases[draw(st.integers(0, n_base - 1))]  # exact duplicate
        else:
            vec = tuple(draw(_vec_component) for _ in range(SIM.DIM))
        rows.append((i, list(vec), draw(st.integers(0, 2))))
    return rows


EMBED_FUZZ_QUERIES = [
    ("ann_bruteforce_topk", SIM.ann_bruteforce_topk, SIM.ORACLE_ANN_TOPK),
    ("embedding_nearest_neighbor", SIM.embedding_nearest_neighbor, SIM.ORACLE_NN),
    ("embedding_centroids", SIM.embedding_centroids, SIM.ORACLE_CENTROIDS),
    ("embedding_near_dup_pairs", SIM.embedding_near_dup_pairs, SIM.ORACLE_NEAR_DUP),
    ("lsh_bucket_histogram", SIM.lsh_bucket_histogram, SIM.ORACLE_LSH_HIST),
    ("embedding_quantize_int8", SIM.embedding_quantize_int8, SIM.ORACLE_QUANTIZE),
    # bucketed ANN paths: degenerate geometry (zero vectors, exact
    # duplicates) through hyperplane cells and the IVF coarse quantizer
    ("lsh_multiprobe_ann", SIM.lsh_multiprobe_ann, SIM.ORACLE_MULTIPROBE_ANN),
    ("ivf_ann", SIM.ivf_ann, SIM.ORACLE_IVF_ANN),
    # recall audit composes the IVF leg with the exact leg — exercises
    # the derived coarse_nlist (tiny corpora clamp to 4 cells) and the
    # hit-join under duplicate/zero-vector tie geometry
    ("ann_recall_eval", SIM.ann_recall_eval, SIM.ORACLE_ANN_RECALL),
    # SemDeDup: planted copies + degenerate geometry through the
    # cell-local prune rule (zero-norm vectors must never prune)
    ("semdedup_prune", SIM.semdedup_prune, SIM.ORACLE_SEMDEDUP),
    # the cross-engine-exact iterative Lloyd loop: duplicate init
    # centroids, zero vectors, and empty-cluster carry-forward all
    # inside a 3-iteration fixpoint (skipped when n < k — the query's
    # documented precondition)
    ("kmeans_exact_lloyd", SIM.kmeans_exact_lloyd, SIM.ORACLE_KMEANS_EXACT),
    # round-6: filtered vector search — label-partitioned top-k under
    # zero-norm sentinels and duplicate-vector rank ties
    ("filtered_ann_topk", SIM.filtered_ann_topk, SIM.ORACLE_FILTERED_ANN),
    # round-7: the BLAS prune + exact rescore path — duplicate vectors
    # (prune tie order vs exact tie order), zero-norm rows (NaN keys
    # must sort last in the prune exactly as NULL sims rank last), and
    # tiny corpora where batches are smaller than ANN_PRUNE_K.
    # use_blas=True: the r8 auto-dispatch would otherwise delegate the
    # 5-query default to the exact fold and fuzz nothing new
    (
        "ann_topk_vectorized",
        lambda spark, sf: SIM.ann_topk_vectorized(spark, sf, use_blas=True),
        SIM.ORACLE_ANN_TOPK,
    ),
]


@settings(
    max_examples=_n_examples(6),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_embeddings_corpus())
def test_embedding_operators_differential_fuzz(spark, fuzz_dir, corpus):
    """Similarity operators under degenerate geometry: the all-zero
    vector (zero norm → NULL cosine; zero int8-quantization scale),
    exact-duplicate vectors (rank tie-breaks), tiny corpora.  Same
    rows+schema+values gate as the driver."""
    _run_counter[0] += 1
    sf_dir = str(fuzz_dir / f"emb{_run_counter[0]}")
    df = spark.createDataFrame(
        corpus, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'embeddings.parquet', '*.parquet')}'"
    )
    for name, fn, sql in EMBED_FUZZ_QUERIES:
        if name == "kmeans_exact_lloyd" and len(corpus) < SIM.KMEANS_K:
            continue  # documented n >= k precondition (raises otherwise)
        sdf = fn(spark, sf_dir).toPandas()
        odf = con.execute(sql).df()
        problems = compare(name, sdf, odf)
        assert not problems, (name, problems)


# --------------------------------------------------------------------------
# extended families, driven from the entry-module registry
# --------------------------------------------------------------------------

import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as _entry

_QS = _entry._base_queries()
_ORACLES = _entry.oracle_sql()

#: every remaining documents-only oracle query: train-prep, decontam,
#: the full dedup family (incl. the near-dup closure via
#: dedup_keep_canonical), and the rest of the text analytics
EXTENDED_DOC_QUERIES = [
    "build_vocab", "bpe_merge_candidates", "pack_sequences",
    "dataset_splits", "chunk_documents", "token_budget_mix",
    "dsir_importance_weights", "decontaminate_ngrams",
    # seeded-hash epoch permutation: single-doc and duplicate-text
    # corpora (hash ties broken by doc_id on both engines)
    "epoch_shuffle_plan",
    "contamination_summary", "minhash_signatures", "minhash_lsh_pairs",
    "simhash_64", "ngram_jaccard_pairs", "prefix_filter_jaccard",
    # banded Hamming join vs the oracle's brute-force all-pairs filter:
    # all-duplicate corpora (ham-0 cliques), empty docs (excluded by
    # the n_tokens>0 gate on both engines)
    "simhash_near_dup_pairs",
    "segment_dedup_clean", "cross_doc_ngram_dup", "dedup_keep_canonical",
    "top_ngrams", "tfidf_top_terms", "bm25_rank", "lm_perplexity",
    "repetition_stats", "pii_scrub_stats", "corpus_quality_gate",
    "language_id_confusion", "stop_shingle_stats", "zipf_fit",
    "inverted_index", "tfidf_cosine_pairs",
    # the near-dup closure itself (dedup_keep_canonical already
    # consumes it; this also pins the raw cluster-table output)
    "dedup_clusters",
    # char-level window census: unicode multi-byte chars exercise the
    # length()-vs-bytes edge (both engines count CODEPOINTS)
    "exact_substring_dup",
    # the registered name of dedup_clusters: star-contraction CC over
    # whatever pair graph the corpus induces (empty graph, singleton
    # components, chains), checked under its own name and oracle
    "cc_star_contraction",
    # row-local hash sharding: manifest must hold on 1-doc lakes
    "training_shard_manifest",
    # the composed 4-stage pipeline: NULL/empty texts must flow
    # through quality gate → fp window → LSH → gram join identically
    # in both engines, incl. the planted doc_id<10 truncated copies
    # (substr of NULL text) and the doc_id=0 eval-split membership
    "curation_pipeline",
    # round-7: the unrolled greedy BPE loop — single-char-word corpora
    # (zero pairs, early break vs the oracle's empty-CTE cascade),
    # all-duplicate vocabularies (tie-breaks decide every merge), and
    # unicode symbols through the framed-string replace
    "bpe_train",
    # encode under the same chain: empty docs (explode_outer leg),
    # every-word-unique corpora, and the integer compression ratio
    # through the 6-dp shortest-repr recipe
    "bpe_encode_corpus",
]


@settings(
    max_examples=_n_examples(4),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpus)
def test_text_extended_differential_fuzz(spark, fuzz_dir, corpus):
    """The remaining documents-only oracle queries under the same
    adversarial corpora — including single-doc, all-NULL, and
    all-duplicate lakes that starve LMs, LSH bands, and the Zipf fit
    of the structure the fixed testdata always provides."""
    _run_counter[0] += 1
    sf_dir = str(fuzz_dir / f"ext{_run_counter[0]}")
    rows = [
        (i, t, lang, src, len(t) if t is not None else 0)
        for i, (t, lang, src) in enumerate(corpus)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet', '*.parquet')}'"
    )
    for name in EXTENDED_DOC_QUERIES:
        sdf = _QS[name](spark, sf_dir).toPandas()
        odf = con.execute(_ORACLES[name]).df()
        problems = compare(name, sdf, odf)
        assert not problems, (name, problems, rows)


# --------------------------------------------------------------------------
# index-wired incremental curation: the equality claim under adversarial
# dual-table (documents + embeddings) lakes
# --------------------------------------------------------------------------

from f1_data_engineering_spark.operators import curation as _CU
from f1_data_engineering_spark.operators import curation_incremental as _CI


def _det_vec(i: int):
    """Deterministic float32-exact embedding for doc_id i — integer
    arithmetic into the same exact-value alphabet as _vec_component,
    so duplicate/zero geometry still occurs across docs."""
    vals = [-2.0, -1.0, -0.25, 0.0, 0.25, 1.0, 2.5]
    return [vals[((i * 8191 + d) * 2654435761) % 7] for d in range(SIM.DIM)]


@settings(
    max_examples=_n_examples(3),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpus)
def test_curation_incremental_differential_fuzz(spark, fuzz_dir, corpus):
    """curation_pipeline_incremental's standing-index equality claim
    (pair ledger ∩ survivors² ≡ survivor banding; persisted cells ≡
    broadcast assignment) differenced three ways on adversarial lakes:
    vs its DuckDB oracle, and vs the in-engine one-shot semantic
    pipeline.  Embeddings exist for HALF the docs (i % 2 == 0) so the
    no-embedding pass-through leg is always exercised; NULL/empty/
    duplicate documents flow through the versioned two-advance ingest."""
    _run_counter[0] += 1
    sf_dir = str(fuzz_dir / f"ci{_run_counter[0]}")
    rows = [
        (i, t, lang, src, len(t) if t is not None else 0)
        for i, (t, lang, src) in enumerate(corpus)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    emb = [(i, _det_vec(i), i % 3) for i, _ in enumerate(corpus) if i % 2 == 0]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )

    inc = _CI.curation_pipeline_incremental(spark, sf_dir).toPandas()
    one = _CU.curation_pipeline_semantic(spark, sf_dir).toPandas()
    assert not compare("inc_vs_oneshot", inc, one), (corpus,)

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(sf_dir, f'{t}.parquet', '*.parquet')}'"
        )
    odf = con.execute(_CI.ORACLE_CURATION_INCREMENTAL).df()
    assert not compare("inc_vs_oracle", inc, odf), (corpus,)
