"""Planted-corpus tests for the round-3 curation operators:
segment_dedup_clean (C4/CCNet segment-removal transform),
gopher_rules (Rae et al. rule census), dsir_importance_weights
(hashed n-gram importance weighting).  The DuckDB differential gate
pins parity; these pin the SEMANTICS on corpora with known answers.
"""

from __future__ import annotations

import hashlib

from f1_data_engineering_spark.operators import dedup as DD
from f1_data_engineering_spark.operators import textops as TX
from f1_data_engineering_spark.operators import trainprep as TP


def _write_docs(spark, tmp_path, rows):
    """rows: (doc_id, text, lang, source)."""
    df = spark.createDataFrame(
        [(d, t, lg, s, len(t) if t is not None else 0) for d, t, lg, s in rows],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def test_segment_dedup_clean_planted(spark, tmp_path):
    """Known dedup outcome: doc 2 is a verbatim copy of doc 1 (loses
    its only segment); doc 3's SECOND segment repeats doc 1's text
    (only that segment removed, first 32 tokens survive)."""
    S = DD.SEGMENT_TOKENS
    short = "alpha beta gamma delta epsilon"
    uniq = " ".join(f"u{j}" for j in range(S))  # exactly one full segment
    rows = [
        (1, short, "en", "A"),
        (2, short, "en", "A"),
        (3, f"{uniq} {short}", "en", "A"),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {r["doc_id"]: r for r in DD.segment_dedup_clean(spark, str(tmp_path)).collect()}

    assert out[1]["n_segments"] == 1 and out[1]["n_kept"] == 1
    assert out[1]["cleaned_md5"] == hashlib.md5(short.encode()).hexdigest()
    # doc 2: whole text was a repeat -> nothing survives
    assert out[2]["n_segments"] == 1 and out[2]["n_kept"] == 0
    assert out[2]["cleaned_chars"] == 0
    assert out[2]["cleaned_md5"] == hashlib.md5(b"").hexdigest()
    # doc 3: segment 0 (the unique 32 tokens) survives, segment 1 (the
    # short repeat) is removed
    assert out[3]["n_segments"] == 2 and out[3]["n_kept"] == 1
    assert out[3]["cleaned_md5"] == hashlib.md5(uniq.encode()).hexdigest()
    assert out[3]["cleaned_chars"] == len(uniq)


def test_gopher_rules_planted(spark, tmp_path):
    """One doc per failure mode, one passing everything; counts are
    exact."""
    stopfill = "the and of to in is that it for with"  # 10 stop tokens
    body = " ".join(f"w{j}" for j in range(45))
    rows = [
        # passes all: 55 tokens, stopwords present, mean wlen ~2.9?  w0..w44
        # are 2-3 chars, stop tokens 2-4 -> mean in [3,10] needs checking:
        # use longer filler words to keep mean wlen >= 3
        (1, " ".join(f"word{j:02d}" for j in range(45)) + " " + stopfill, "en", "A"),
        # fails wordcount (5 tokens)
        (2, "tiny doc with the and", "en", "A"),
        # fails repetition: 'dup' is 30 of 60 tokens (> 20%)
        (3, " ".join(["dup"] * 30) + " " + " ".join(f"x{j}len" for j in range(20))
            + " " + stopfill, "en", "A"),
        # fails stopword rule: 60 unique non-stop tokens
        (4, " ".join(f"y{j}word" for j in range(60)), "en", "A"),
        # NULL text: 0 tokens fails wordcount but must COUNT toward
        # n_pass_symbol (0 symbols <= 0.1*0) exactly like the SQL twin's
        # COALESCE(text, '') — pins the NULL-safe regexp_count
        (5, None, "en", "A"),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {r["source"]: r for r in TX.gopher_rules(spark, str(tmp_path)).collect()}
    a = out["A"]
    assert a["n_docs"] == 5
    assert a["n_pass_wordcount"] == 3  # docs 2, 5 fail
    assert a["n_pass_stop"] == 3  # docs 4, 5 fail
    assert a["n_pass_repetition"] == 3  # docs 3, 5 fail
    assert a["n_pass_symbol"] == 5  # no '#'/'...' anywhere, NULL counts
    assert a["n_pass_all"] == 1  # only doc 1
    assert abs(a["pct_pass_all"] - 0.20) < 1e-9


def test_dsir_weights_directional(spark, tmp_path):
    """Docs built from the target (en) vocabulary must outrank docs
    built from the out-of-target vocabulary."""
    xvocab = [f"tgt{j}" for j in range(20)]
    yvocab = [f"oth{j}" for j in range(20)]
    rows = []
    for i in range(8):
        rows.append((i, " ".join(xvocab), "en", "A"))
    for i in range(8, 16):
        rows.append((i, " ".join(yvocab), "zh", "A"))
    _write_docs(spark, tmp_path, rows)
    out = TP.dsir_importance_weights(spark, str(tmp_path)).collect()
    w = {r["doc_id"]: r["dsir_weight"] for r in out}
    assert len(w) == 16
    assert min(w[i] for i in range(8)) > max(w[i] for i in range(8, 16))
    # weights are per-gram means: identical docs score identically
    assert len({w[i] for i in range(8)}) == 1


def test_curation_ops_plan_quality(spark, sf_dir):
    """Plan shapes for the round-3 curation ops: DSIR's scoring join
    broadcasts the bucket LM (feature-space-sized), and neither the
    segment-removal transform nor the Gopher census plans a
    CartesianProduct anywhere."""
    from f1_data_engineering_spark.plans import assert_broadcast_join, physical_plan

    dsir = TP.dsir_importance_weights(spark, sf_dir)
    assert "CartesianProduct" not in physical_plan(dsir, "simple")
    assert_broadcast_join(dsir, at_least=1)  # bucket lnw table

    clean = DD.segment_dedup_clean(spark, sf_dir)
    assert "CartesianProduct" not in physical_plan(clean, "simple")

    rules = TX.gopher_rules(spark, sf_dir)
    assert "CartesianProduct" not in physical_plan(rules, "simple")


def test_curation_pipeline_planted(spark, tmp_path):
    """Stage-isolating corpus for the composed pipeline: each source
    exercises exactly one pruning stage, so every per-stage survival
    count has one hand-computable answer.

    N — near-dup: doc 5 (< 10 → the pipeline plants a truncated copy
        at 1000005); LSH must drop the copy and keep the original.
    Q — quality: one good English doc, one punctuation-garbage doc.
    E — exact: docs 13/14 share a text verbatim; keep-first keeps 13.
    V — decontamination: doc 50 (eval split, also quality-failing
        nonsense) leaks its 5-grams into doc 51's prefix (~39% gram
        overlap ≥ 30% threshold → contaminated) while doc 52 is clean.
    Z — zero survivors: every doc fails the quality gate, so every
        count past ``n_raw`` (and ``clean_tokens``) must be 0, not NULL.
    """
    stop_tail = "the and of to in is that it for with those people here"
    n_text = (
        stop_tail
        + " "
        + " ".join(f"neardupword{j:02d}" for j in range(50))
    )
    q_good = "the quick brown fox jumps over and it is that good for with everyone in town"
    q_bad = "!!! ??? $$$ %%% ^^^ &&& *** ((( ))) @@@"
    e_text = "copied article body and it is that same text for with every mirror of the site"
    e_uniq = "unique essay about rivers and the slow water that it carries for with silt in autumn"
    ev_toks = [f"evalgram{j:02d}" for j in range(30)]
    v_eval = " ".join(ev_toks)  # no stopwords → lang 'und', fails quality
    v_contam = " ".join(ev_toks[:20]) + " " + stop_tail + " more plain words follow here now then"
    v_clean = "weather report for the coast says wind and rain is due in that late evening with fog"
    rows = [
        (5, n_text, "en", "N"),
        (11, q_good, "en", "Q"),
        (12, q_bad, "en", "Q"),
        (13, e_text, "en", "E"),
        (14, e_text, "en", "E"),
        (15, e_uniq, "en", "E"),
        (50, v_eval, "en", "V"),
        (51, v_contam, "en", "V"),
        (52, v_clean, "en", "V"),
        (21, q_bad, "en", "Z"),
        (22, "### ... ~~~ +++ === ||| <<< >>>", "en", "Z"),
    ]
    _write_docs(spark, tmp_path, rows)

    from f1_data_engineering_spark.operators import curation as CU

    out = {r["source"]: r for r in CU.curation_pipeline(spark, str(tmp_path)).collect()}
    assert set(out) == {"N", "Q", "E", "V", "Z"}

    n = out["N"]  # original + planted truncation; LSH prunes the copy
    assert (n["n_raw"], n["n_quality"], n["n_exact"]) == (2, 2, 2)
    assert (n["n_neardup"], n["n_clean"]) == (1, 1)

    q = out["Q"]  # garbage doc dies at the quality gate, nothing after
    assert (q["n_raw"], q["n_quality"]) == (2, 1)
    assert (q["n_exact"], q["n_neardup"], q["n_clean"]) == (1, 1, 1)

    e = out["E"]  # verbatim pair collapses at exact dedup only
    assert (e["n_raw"], e["n_quality"], e["n_exact"]) == (3, 3, 2)
    assert (e["n_neardup"], e["n_clean"]) == (2, 2)

    v = out["V"]  # eval doc fails quality; doc 51 falls to decontam only
    assert (v["n_raw"], v["n_quality"], v["n_exact"], v["n_neardup"]) == (3, 2, 2, 2)
    assert v["n_clean"] == 1
    assert v["clean_tokens"] == len(v_clean.split())

    z = out["Z"]  # nothing passes the quality gate: zeros, never NULL
    assert z["n_raw"] == 2
    zeros = ("n_quality", "n_exact", "n_neardup", "n_clean", "clean_tokens")
    assert [z[c] for c in zeros] == [0] * len(zeros)


def _source_aggregates(df) -> int:
    """Aggregate nodes grouped on ``source`` alone, counted by walking
    the optimized logical plan tree (cached stages are leaves)."""
    n, todo = 0, [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Aggregate":
            g = node.groupingExpressions()
            n += g.size() == 1 and g.apply(0).toString().startswith("source#")
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return n


def test_curation_pipeline_plan_quality(spark, sf_dir):
    """The composed plan must stay join-sane end to end: no
    CartesianProduct anywhere, the eval-gram set enters the
    contamination join as a broadcast, and the per-source stage
    counts of both pipelines come from ONE aggregate."""
    from f1_data_engineering_spark.operators import curation as CU
    from f1_data_engineering_spark.plans import assert_broadcast_join, physical_plan

    df = CU.curation_pipeline(spark, sf_dir)
    assert "CartesianProduct" not in physical_plan(df, "simple")
    assert_broadcast_join(df, at_least=1)
    assert _source_aggregates(df) == 1
    assert _source_aggregates(CU.curation_pipeline_semantic(spark, sf_dir)) == 1


def test_write_clean_corpus_matches_pipeline(spark, sf_dir, tmp_path):
    """The sink's manifest (recomputed from the written parquet) must
    agree with the pure counts query for every source that kept a doc,
    and the written files must be doc_id-ordered within each file."""
    import pyarrow.parquet as pq
    import glob as _glob

    from f1_data_engineering_spark.operators import curation as CU

    out_dir = str(tmp_path / "clean_corpus")
    manifest = {
        r["source"]: r for r in CU.write_clean_corpus(spark, sf_dir, out_dir).collect()
    }
    counts = {r["source"]: r for r in CU.curation_pipeline(spark, sf_dir).collect()}

    kept = {s for s, r in counts.items() if r["n_clean"] > 0}
    assert set(manifest) == kept
    for s in kept:
        assert manifest[s]["n_docs"] == counts[s]["n_clean"], s
        assert manifest[s]["total_tokens"] == counts[s]["clean_tokens"], s

    # in-file ordering contract: every parquet file ascending by doc_id
    files = _glob.glob(out_dir + "/source=*/*.parquet")
    assert files
    for f in files:
        ids = pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()
        assert ids == sorted(ids), f


def test_semantic_pipeline_stage_matches_numpy_semdedup(spark):
    """The 5-stage pipeline's semantic stage vs an independent numpy
    SemDeDup over the near-dup survivors: same seeded quantizer
    (vec_id < coarse_nlist(N), argmax 9-dp cosine, ties to the lower
    centroid), same prune rule (exists same-cell j < i with 9-dp
    cos ≥ τ).  Also pins stage monotonicity and that the first five
    columns equal curation_pipeline's (identical shared prefix)."""
    import numpy as np
    import pandas as pd

    from f1_data_engineering_spark.operators import curation as CU
    from f1_data_engineering_spark.operators.similarity import (
        SEMDEDUP_TAU,
        coarse_nlist,
    )

    sfd = "/root/testdata/sf0.001"
    got = CU.curation_pipeline_semantic(spark, sfd).toPandas()
    base = CU.curation_pipeline(spark, sfd).toPandas()
    shared = ["source", "n_raw", "n_quality", "n_exact", "n_neardup"]
    pd.testing.assert_frame_equal(got[shared], base[shared])
    assert (got.n_semantic <= got.n_neardup).all()
    assert (got.n_clean <= got.n_semantic).all()

    stages = CU._curation_stages(spark, sfd, semantic=True)
    nd_ids = sorted(r["doc_id"] for r in stages["neardup"].select("doc_id").collect())
    sem_ids = {r["doc_id"] for r in stages["semantic"].select("doc_id").collect()}

    emb = pd.read_parquet(f"{sfd}/embeddings.parquet")
    V = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
         for r in emb.itertuples()}
    nlist = coarse_nlist(len(emb))
    cents = [(cid, V[cid]) for cid in sorted(V) if cid < nlist]

    def cos9(a, b):
        na, nb = float(np.sqrt(a @ a)), float(np.sqrt(b @ b))
        if na * nb <= 0:
            return None
        return round(float(a @ b) / (na * nb), 9)

    cells: dict[int, list[int]] = {}
    for i in nd_ids:
        if i not in V:  # augmented planted copies: no embedding row
            continue
        best = max(
            ((-2.0 if (s := cos9(V[i], cv)) is None else s, -cid, cid)
             for cid, cv in cents),
        )
        cells.setdefault(best[2], []).append(i)
    pruned = set()
    for members in cells.values():
        for xi, i in enumerate(members):
            for j in members[:xi]:
                s = cos9(V[j], V[i])
                if s is not None and s >= SEMDEDUP_TAU:
                    pruned.add(i)
                    break
    exp_sem = set(nd_ids) - pruned
    assert sem_ids == exp_sem
    assert pruned, "the semantic stage should prune something at sf0.001"
