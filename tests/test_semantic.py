"""Property tests for the embedding-space curation operators
(operators/semantic.py): SemDeDup keeper policy on crafted duplicate
groups, PQ code validity + seed-identity, IVF-PQ output contract, and
Matryoshka recall on prefix-determined embeddings."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from lambda_lakehouse_spark.operators.semantic import (
    MRL_K,
    PQ_DSUB,
    PQ_K,
    PQ_M,
    eval_matryoshka_prefix_recall,
    ivfpq_cosine_topk,
    pq_encode,
    semdedup_verdicts,
    train_pq_codebook,
)


from lambda_lakehouse_spark.operators.similarity import _flat


def _q(name):
    from lambda_lakehouse_spark.registry import load_all

    return load_all()[name]


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )


def _vec(*nonzero, dim=64):
    v = [0.0] * dim
    for i, x in nonzero:
        v[i] = float(x)
    return v


def test_semdedup_identical_group_keeps_exactly_one(spark):
    """Four identical vectors share a cell and tie on
    cos-to-centroid; the (cos_centroid, vec_id) tuple order must keep
    exactly the smallest id and drop the other three. Distinct
    orthogonal vectors are untouched."""
    rows = [(i, _vec((0, 1.0)), 0) for i in range(4)]
    rows += [(10 + d, _vec((d, 1.0)), 0) for d in range(1, 4)]
    out = semdedup_verdicts(_emb_df(spark, rows), tau=0.99).collect()
    kept = {r.vec_id for r in out if r.is_kept}
    assert len(out) == 7
    assert {0, 11, 12, 13} <= kept
    assert kept & {1, 2, 3} == set()


def test_semdedup_drops_the_prototypical_member(spark):
    """Of a duplicate pair, the member CLOSER to its cell centroid is
    dropped (SemDeDup keep-the-marginal rule). Cell geometry: many
    copies of the prototype pull the centroid toward it, so the
    slightly-rotated twin is the marginal one and must survive."""
    proto = _vec((0, 1.0))
    # near-duplicate of the prototype, tilted toward dim 1
    twin = _vec((0, 1.0), (1, 0.2))
    rows = [(i, proto, 0) for i in range(5)] + [(99, twin, 0)]
    out = {r.vec_id: r for r in semdedup_verdicts(_emb_df(spark, rows), tau=0.9).collect()}
    assert out[99].is_kept  # the marginal twin survives
    # the prototype group keeps exactly its min id
    assert out[0].is_kept
    assert not any(out[i].is_kept for i in range(1, 5))


def test_pq_codes_valid_and_seed_identity(spark):
    """Codes are dense in [0, PQ_K) per subspace, every vector gets
    exactly PQ_M codes, and a vector whose subvectors coincide with a
    codeword reconstructs to distance 0 (its own code wins)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], 0) for i in range(40)
    ]
    emb = _emb_df(spark, rows)
    flat = _flat(emb).select("vec_id", "pos", "val")
    codes = pq_encode(flat).collect()
    by_vec = {}
    for r in codes:
        assert 0 <= r.code < PQ_K
        assert 0 <= r.subspace < PQ_M
        by_vec.setdefault(r.vec_id, set()).add(r.subspace)
    assert all(len(s) == PQ_M for s in by_vec.values())
    assert len(by_vec) == 40


def test_pq_codebook_bounded_shape(spark):
    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], 0) for i in range(30)
    ]
    flat = _flat(_emb_df(spark, rows)).select("vec_id", "pos", "val")
    cb = train_pq_codebook(flat).collect()
    # bounded by construction: M × K × DSUB rows
    assert len(cb) <= PQ_M * PQ_K * PQ_DSUB
    keys = {(r.m, r.code) for r in cb}
    assert all(0 <= m < PQ_M and 0 <= c < PQ_K for m, c in keys)


def test_ivfpq_output_contract(spark):
    """Per query: at most k rows, contiguous ranks from 1, no
    self-matches, approx_cos within [-1-eps, 1+eps] (quantization can
    push slightly past 1)."""
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], 0) for i in range(60)
    ]
    out = ivfpq_cosine_topk(
        _emb_df(spark, rows), F.col("vec_id") < 5, k=3
    ).collect()
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        assert -1.5 <= r.approx_cos <= 1.5
        by_q.setdefault(r.query_id, []).append(r.rk)
    for rks in by_q.values():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 3


def test_matryoshka_recall_one_when_prefix_determines(spark):
    """Embeddings that are zero beyond the prefix: prefix ranking ==
    full ranking, so recall@k is exactly 1.0 for every query."""
    import random

    rng = random.Random(5)
    rows = [
        (
            i,
            [rng.uniform(-1, 1) for _ in range(16)] + [0.0] * 48,
            0,
        )
        for i in range(30)
    ]
    with tempfile.TemporaryDirectory() as d:
        _emb_df(spark, rows).write.parquet(f"{d}/embeddings.parquet")
        out = eval_matryoshka_prefix_recall(spark, d).collect()
    assert len(out) == 10
    assert all(r.recall == 1.0 and r.n_overlap == MRL_K for r in out)


# --- text/stats ops (non-embedding) ----------------------------------


def test_mannwhitney_separated_samples(spark):
    """A strictly below B: U_A = 0 exactly (no A>B pair), z < 0; and
    the doubled-U integer matches the rank-sum identity."""
    from lambda_lakehouse_spark.operators.evalstats import mannwhitney_u

    rows = [(v, True) for v in (1, 2, 3)] + [(v, False) for v in (4, 5, 6)]
    df = spark.createDataFrame(rows, "score int, in_a boolean")
    r = mannwhitney_u(df, "score", "in_a").collect()[0]
    assert (r.n_a, r.n_b) == (3, 3)
    assert r.u_a2 == 0 and r.u_a == 0.0
    assert r.z < 0


def test_mannwhitney_midrank_ties(spark):
    """Crafted ties: A={1,2,2}, B={2,3}. Midranks: 1→1, 2→3 (ranks
    2,3,4), 3→5. R_A = 1+3+3 = 7, U_A = 7 - 6 = 1, tie_sum = 3³-3."""
    from lambda_lakehouse_spark.operators.evalstats import mannwhitney_u

    rows = [(1, True), (2, True), (2, True), (2, False), (3, False)]
    df = spark.createDataFrame(rows, "score int, in_a boolean")
    r = mannwhitney_u(df, "score", "in_a").collect()[0]
    assert r.u_a2 == 2  # 2*U_A
    assert r.u_a == 1.0
    assert r.tie_sum == 24


def test_bpe_pairs_counts_adjacent_only(spark):
    """'abab' yields ab, ba, ab — overlapping adjacent pairs, counted
    with multiplicity; single-char words contribute nothing."""
    import tempfile


    docs = spark.createDataFrame(
        [(1, "abab x", "en", "s", 6), (2, "ab", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = {
            r.pair: (r.rank, r.n)
            for r in _q("text_bpe_pair_merges").spark(spark, d).collect()
        }
    assert out["ab"] == (1, 3)
    assert out["ba"] == (2, 1)
    assert "x" not in out and " x" not in out


def test_code_prose_signals_on_code_like_text(spark):
    import tempfile


    code = "int f(){return 0;};"
    prose = "a gentle paragraph about nothing in particular at all"
    docs = spark.createDataFrame(
        [(1, code, "en", "s", len(code)), (2, prose, "en", "s", len(prose))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = {
            r.doc_id: r
            for r in _q("text_code_prose_signals").spark(spark, d).collect()
        }
    assert out[1].code_like and out[1].n_braces == 2 and out[1].n_semicolons == 2
    assert not out[2].code_like and out[2].sym_frac == 0.0


def test_tfidf_rarity_prefers_rare_terms(spark):
    """A term appearing in 1 of 3 docs outranks an equally-frequent
    term appearing in all docs (df dominates for fixed tf)."""
    import tempfile


    docs = spark.createDataFrame(
        [
            (1, "common rare common", "en", "s", 17),
            (2, "common filler words", "en", "s", 19),
            (3, "common other stuff", "en", "s", 18),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        rows = _q("corpus_tfidf_topterms").spark(spark, d).collect()
    top1 = {r.doc_id: r.word for r in rows if r.rk == 1}
    assert top1[1] == "rare"  # tf=1,df=1 (score 3) beats tf=2,df=3 (score 2)


def test_ndcg_perfect_and_worst_ranking(spark):
    """All relevant docs ranked first → ndcg == 1.0 exactly (integer
    DCG equals the cumulative IDCG literal); zero relevant → 0.0."""
    import tempfile


    rows = [(i, "t", "en" if i < 3 else "de", "sA", 100 - i) for i in range(8)]
    rows += [(20 + i, "t", "fr", "sB", 50 - i) for i in range(5)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = {
            r.source: r
            for r in _q("eval_ndcg_at10").spark(spark, d).collect()
        }
    # sA: relevant docs are exactly the 3 longest → perfect ranking
    assert out["sA"].n_rel == 3 and out["sA"].ndcg == 1.0
    assert out["sB"].n_rel == 0 and out["sB"].ndcg == 0.0 and out["sB"].idcg_scaled == 0


def test_source_diversity_monoculture_vs_uniform(spark):
    """Single-language source → simpson 0; two equal languages →
    exactly 0.5; shares sum to 1."""
    import tempfile


    rows = [(i, "t", "en", "mono", 5) for i in range(4)]
    rows += [(10 + i, "t", ["en", "de"][i % 2], "duo", 5) for i in range(4)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = {
            r.source: r
            for r in _q("corpus_source_diversity").spark(spark, d).collect()
        }
    assert out["mono"].lang_simpson == 0.0 and out["mono"].n_langs == 1
    assert out["duo"].lang_simpson == 0.5 and out["duo"].n_langs == 2
    assert out["mono"].corpus_share + out["duo"].corpus_share == 1.0


def test_supplier_overlap_jaccard_identity(spark):
    """Two suppliers with identical capped part sets score jaccard
    1.0 and rank first; disjoint suppliers never pair."""
    import tempfile

    rows = []
    # s1, s2 share parts 1-3 exactly; s3 sells only part 9
    for p in (1, 2, 3):
        rows += [(p, 101), (p, 102)]
    rows += [(9, 103)]
    li = spark.createDataFrame(
        [(p, s, 1.0) for p, s in rows],
        "l_partkey long, l_suppkey long, l_quantity double",
    )

    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(f"{d}/lineitem.parquet")
        out = _q("graph_supplier_overlap").spark(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.s1, r.s2, r.common, r.jaccard, r.rank) == (101, 102, 3, 1.0, 1)


def test_frame_overlap_shared_chunk_detected(spark):
    """Docs built from the same 256-byte block share every sampled
    frame → containment 1.0; an unrelated doc pairs with nobody."""
    import tempfile


    block = "A" * 256
    rows = [
        (1, block * 4, "en", "s", 1024),
        (2, block * 2, "en", "s", 512),
        (3, "B" * 1024, "en", "s", 1024),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = _q("multimodal_frame_overlap").spark(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b, r.containment) == (1, 2, 1.0)


def test_column_profile_nulls_distinct_mode(spark):
    """Crafted nulls + a clear mode: n_null counts NULL values,
    n_distinct excludes them, mode is (freq DESC, value) rank 1."""
    from lambda_lakehouse_spark.operators.dq import column_profile

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,), (None,), ("c",)], "k string"
    )
    r = column_profile(df, ("k",)).collect()[0]
    assert (r.column, r.n_rows, r.n_null, r.n_distinct) == ("k", 6, 2, 3)
    assert (r.mode_value, r.mode_freq) == ("a", 2)


def test_column_profile_mode_tie_breaks_on_value(spark):
    from lambda_lakehouse_spark.operators.dq import column_profile

    df = spark.createDataFrame([("b",), ("a",)], "k string")
    r = column_profile(df, ("k",)).collect()[0]
    assert (r.mode_value, r.mode_freq) == ("a", 1)


def test_ewma_recurrence_exact(spark):
    """Hand-computed chain: x = [10, 20, 40] daily sums for one key →
    s = [10, 13, 21.1] with alpha 0.3 (exact doubles)."""
    import datetime as dt
    import tempfile


    rows = [
        (1, dt.datetime(2024, 1, 1, 5), 1, "click", 10.0, "{}"),
        (2, dt.datetime(2024, 1, 2, 6), 1, "click", 20.0, "{}"),
        (3, dt.datetime(2024, 1, 3, 7), 1, "click", 15.0, "{}"),
        (4, dt.datetime(2024, 1, 3, 8), 1, "click", 25.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        out = sorted(
            _q("timeseries_ewma_smoothing").spark(spark, d).collect(),
            key=lambda r: r.day,
        )
    assert [r.x for r in out] == [10.0, 20.0, 40.0]
    assert out[0].ewma == 10.0
    assert out[1].ewma == 0.3 * 20.0 + 0.7 * 10.0
    assert out[2].ewma == 0.3 * 40.0 + 0.7 * out[1].ewma


def test_langid_confusion_identities(spark):
    """Per class: tp <= min(n_actual, n_predicted); sum of n_actual ==
    sum of n_predicted == corpus size; micro-accuracy from the matrix
    equals text_lang_id's is_match rate."""
    from lambda_lakehouse_spark.operators.text import text_lang_id

    sf = "/root/testdata/sf0.001"
    rows = _q("eval_langid_confusion").spark(spark, sf).collect()
    n = sum(r.n_actual for r in rows)
    assert n == 500
    assert sum(r.n_predicted for r in rows) == n
    for r in rows:
        assert r.n_tp <= min(r.n_actual, r.n_predicted)
    matches = text_lang_id(spark, sf).where("is_match").count()
    assert sum(r.n_tp for r in rows) == matches


def test_target_mix_weights_uniform_corpus_is_identity(spark):
    """Already-uniform corpus: every weight is exactly 1.0 and ESS
    equals the corpus size (no effective-data loss)."""
    import tempfile


    rows = [(i, "t", "en", f"s{i % 4}", 1) for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = _q("sample_target_mix_weights").spark(spark, d).collect()
    assert len(out) == 4
    for r in out:
        assert r.weight == 1.0 and r.current_share == 0.25
        assert r.ess == 40.0


def test_target_mix_weights_skew_shrinks_ess(spark):
    """A skewed corpus reweighted to uniform must lose effective
    sample size: ESS < N, and the dominant source gets weight < 1."""
    import tempfile


    rows = [(i, "t", "en", "big", 1) for i in range(90)]
    rows += [(100 + i, "t", "en", "small", 1) for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = {
            r.source: r
            for r in _q("sample_target_mix_weights").spark(spark, d).collect()
        }
    assert out["big"].weight < 1.0 < out["small"].weight
    assert out["big"].ess < 100.0


def _write_docs(spark, rows, d):
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.parquet(f"{d}/documents.parquet")


def test_token_spectrum_crafted_gt_identities(spark):
    """Corpus 'a a a b b c': spectrum rows (1,1),(2,1),(3,1); total
    mass 6; GT r* chain (r+1)*n_{r+1}/n_r; r=1 share is p0."""
    import tempfile


    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, [(0, "a a a b b c", "en", "s", 11)], d)
        rows = {
            r.r: r
            for r in _q("corpus_token_spectrum").spark(spark, d).collect()
        }
    assert set(rows) == {1, 2, 3}
    assert all(rows[r].n_types == 1 for r in rows)
    assert rows[1].frac_tokens == 1.0 / 6  # p0: singleton mass
    assert rows[1].gt_rstar == 2.0  # (1+1)*n_2/n_1 = 2
    assert rows[2].gt_rstar == 3.0  # (2+1)*n_3/n_2 = 3
    assert rows[3].gt_rstar is None  # no n_4
    assert sum(r.n_tokens_at_r for r in rows.values()) == 6


def test_heaps_growth_monotone_and_exact_totals(spark):
    """Vocab/doc/token prefix counts are non-decreasing in the decile;
    the final row covers the whole corpus; vocab never exceeds
    tokens."""

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        _q("corpus_heaps_vocab_growth").spark(spark, sf).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert a.n_docs_prefix <= b.n_docs_prefix
        assert a.n_tokens_prefix <= b.n_tokens_prefix
        assert a.n_vocab <= b.n_vocab
    last = rows[-1]
    assert last.n_docs_prefix == 500
    assert last.n_vocab <= last.n_tokens_prefix


def test_zipf_rank_curve_crafted(spark):
    """Deterministic ranks under (freq desc, token) with exact
    rank*freq products."""
    import tempfile


    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, [(0, "x x x y y z", "en", "s", 11)], d)
        rows = sorted(
            _q("corpus_zipf_rank_curve").spark(spark, d).collect(),
            key=lambda r: r.rank,
        )
    assert [(r.rank, r.token, r.freq, r.rank_x_freq) for r in rows] == [
        (1, "x", 3, 3),
        (2, "y", 2, 4),
        (3, "z", 1, 3),
    ]


def test_dedup_survival_cross_source_keeper(spark):
    """Duplicate text across two sources: the lower-doc_id source keeps
    the copy, the other loses it; shares rebalance accordingly."""
    import tempfile


    rows = [
        (0, "same text", "en", "first", 9),
        (1, "Same   TEXT", "en", "second", 11),  # normalized duplicate
        (2, "unique a", "en", "second", 8),
        (3, "unique b", "en", "second", 8),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, rows, d)
        out = {
            r.source: r
            for r in _q("dedup_source_survival").spark(spark, d).collect()
        }
    assert out["first"].n_kept == 1 and out["first"].survival_rate == 1.0
    assert out["second"].n_docs == 3 and out["second"].n_kept == 2
    assert out["first"].raw_share == 0.25
    assert out["first"].dedup_share == 1.0 / 3
    assert out["second"].dedup_share == 2.0 / 3


def test_cosine_calibration_totals_and_bounds(spark):
    """Bin counts sum to n_queries*k edges; rates are valid
    probabilities; n_match consistent with match_rate."""
    from lambda_lakehouse_spark.operators.similarity import EVAL_KNN_MOD, TOP_K
    from lambda_lakehouse_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    rows = _q("eval_cosine_calibration").spark(spark, sf).collect()
    n_q = (
        read_table(spark, sf, "embeddings")
        .where(F.col("vec_id") % EVAL_KNN_MOD == 0)
        .count()
    )
    assert sum(r.n_pairs for r in rows) == n_q * TOP_K
    for r in rows:
        assert 0 <= r.n_match <= r.n_pairs
        assert abs(r.match_rate - r.n_match / r.n_pairs) < 1e-12
        assert r.bin_lo == r.bin / 10.0


def test_hybrid_rrf_score_decomposition(spark):
    """Every fused row's rrf_score equals exactly the sum of its two
    sentinel-coded branch contributions, ranks are 1..k contiguous per
    query, and each branch rank annotation agrees with the branch
    ranking run standalone."""
    from lambda_lakehouse_spark.operators.search import (
        FUSE_TOP,
        RRF_K,
        bm25_topk,
    )
    from lambda_lakehouse_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    rows = _q("search_hybrid_rrf").spark(spark, sf).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        want = (1.0 / (RRF_K + r.bm25_rank) if r.bm25_rank > 0 else 0.0) + (
            1.0 / (RRF_K + r.cos_rank) if r.cos_rank > 0 else 0.0
        )
        assert r.rrf_score == want
        assert r.bm25_rank > 0 or r.cos_rank > 0
    for q, qs in by_q.items():
        assert sorted(r.rank for r in qs) == list(range(1, len(qs) + 1))
        assert len(qs) <= FUSE_TOP
    # branch-rank annotations agree with the standalone BM25 ranking
    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    bm = {
        (r.query_id, r.doc_id): r["rank"] for r in bm25_topk(docs).collect()
    }
    for r in rows:
        if r.bm25_rank > 0:
            assert bm[(r.query_id, r.doc_id)] == r.bm25_rank


def test_langid_kappa_matches_confusion_matrix(spark):
    """kappa recomputed in Python from the certified confusion cells
    equals the query's output bit-for-bit, and po is the confusion
    matrix's micro-accuracy."""

    sf = "/root/testdata/sf0.001"
    conf = _q("eval_langid_confusion").spark(spark, sf).collect()
    out = _q("eval_langid_kappa").spark(spark, sf).collect()
    assert len(out) == 1
    k = out[0]
    n = sum(r.n_actual for r in conf)
    tp = sum(r.n_tp for r in conf)
    prod = sum(r.n_actual * r.n_predicted for r in conf)
    po = tp / n
    pe = prod / (n * n)
    assert k.n_docs == n and k.n_tp == tp
    assert k.po == po and k.pe == pe
    assert k.kappa == (po - pe) / (1.0 - pe)
    assert k.kappa <= 1.0


def test_rarity_score_crafted(spark):
    """Crafted 2-doc corpus: corpus frequencies a=2, b=2, c=1 give
    exact per-doc rarity profiles."""
    import tempfile


    rows = [(0, "a a b", "en", "s", 5), (1, "b c", "en", "s", 3)]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, rows, d)
        out = {
            r.doc_id: r
            for r in _q("text_rarity_score").spark(spark, d).collect()
        }
    d0, d1 = out[0], out[1]
    assert (d0.n_tokens, d0.sum_freq, d0.min_freq, d0.n_hapax) == (3, 6, 2, 0)
    assert d0.mean_freq == 2.0
    assert (d1.n_tokens, d1.sum_freq, d1.min_freq, d1.n_hapax) == (2, 3, 1, 1)
    assert d1.mean_freq == 1.5


def test_halfsample_ci_statistical_sanity(spark):
    """The hash-bit half-sample SE brackets the classical sd/sqrt(N)
    within 3x, replicate sizes are near N/2, and the relation is
    deterministic across runs."""
    import statistics

    from lambda_lakehouse_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    q = _q("stats_halfsample_ci")
    rows = sorted(q.spark(spark, sf).collect(), key=lambda r: r.replicate)
    assert [r.replicate for r in rows] == list(range(64))
    n = rows[0].n_docs
    chars = [
        r.n_chars
        for r in read_table(spark, sf, "documents").select("n_chars").collect()
    ]
    assert n == len(chars)
    assert rows[0].mean_all == sum(chars) / n
    classical = statistics.stdev(chars) / (n ** 0.5)
    se = rows[0].se_halfsample
    assert classical / 3 < se < classical * 3
    for r in rows:
        # binomial(N, 1/2) replicate sizes: generous 6-sigma bracket
        assert abs(r.n_rep - n / 2) < 6 * (n ** 0.5) / 2 + 1
        assert r.se_halfsample == se
    again = sorted(q.spark(spark, sf).collect(), key=lambda r: r.replicate)
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_winnowing_shared_passage_pairs(spark):
    """Two documents sharing a long copied passage (inside otherwise
    different text) must pair; the winnowing guarantee promises a
    shared fingerprint for any shared substring >= K + W - 1 chars;
    an unrelated doc must not pair with either."""
    import tempfile

    from lambda_lakehouse_spark.operators.dedup import (
        WIN_K,
        WIN_W,
        winnow_fingerprints,
    )

    passage = (
        "the quick brown fox jumps over the lazy dog while the "
        "slow green turtle watches from beneath the old stone bridge"
    )
    assert len(passage) >= WIN_K + WIN_W - 1
    rows = [
        (0, passage + " alpha beta gamma delta epsilon zeta", "en", "s", 1),
        (1, "one two three four five six seven " + passage, "en", "s", 1),
        (2, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq", "en", "s", 1),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, rows, d)
        out = _q("dedup_winnowing_pairs").spark(spark, d).collect()
        # the guarantee, stated on the fingerprint relation itself
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).select("doc_id", "text")
        fps = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[0] & by_doc[1], "shared passage must share a fingerprint"
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])
    pairs = {(r.doc_a, r.doc_b): r for r in out}
    assert set(pairs) == {(0, 1)}
    p = pairs[(0, 1)]
    assert p.n_shared <= min(p.n_fp_a, p.n_fp_b)
    assert p.containment == p.n_shared / min(p.n_fp_a, p.n_fp_b)
    assert 0 < p.containment <= 1.0


def test_winnowing_df_cap_kills_universal_fingerprints(spark):
    """A fingerprint present in more docs than the DF cap is dropped:
    a corpus of identical docs larger than the cap yields no pairs."""
    import tempfile

    from lambda_lakehouse_spark.operators.dedup import WIN_DF_CAP

    text = "identical boilerplate text repeated across every document here"
    rows = [(i, text, "en", "s", len(text)) for i in range(WIN_DF_CAP + 6)]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, rows, d)
        out = _q("dedup_winnowing_pairs").spark(spark, d).collect()
    assert out == []


def test_ivf_recall_bounds_and_probe_all_is_exact(spark):
    """recall@k is a valid per-query ratio consistent with n_hit and
    the macro recall; probing ALL cells makes IVF exhaustive, so its
    recall against brute force is exactly 1.0 on every query."""
    from lambda_lakehouse_spark.operators.similarity import (
        IVF_K,
        N_CELLS,
        N_QUERIES,
        cosine_topk,
        ivf_cosine_topk,
    )
    from lambda_lakehouse_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    rows = _q("eval_ivf_recall").spark(spark, sf).collect()
    assert len(rows) == N_QUERIES
    tot = sum(r.n_hit for r in rows)
    for r in rows:
        assert 0 <= r.n_hit <= IVF_K
        assert r.recall_at_k == r.n_hit / IVF_K
        assert r.macro_recall == tot / (len(rows) * IVF_K)

    emb = read_table(spark, sf, "embeddings")
    qf = F.col("vec_id") < N_QUERIES
    full = {
        (r.query_id, r.neighbor_id)
        for r in ivf_cosine_topk(emb, qf, n_probe=N_CELLS).collect()
    }
    brute = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, qf, k=IVF_K).collect()
    }
    assert full == brute


def _floor_scaled_cos(x, y):
    """Pure-Python reference of the scorer's arithmetic: per-dimension
    products floored at 1e-15, integer-summed, one double divide."""
    import math

    import numpy as np

    def dot(a, b):
        a, b = (np.asarray(v, dtype=np.float32).tolist() for v in (a, b))
        return sum(math.floor(p * q * 1e15) for p, q in zip(a, b)) / 1e15

    return dot(x, y) / math.sqrt(dot(x, x) * dot(y, y))


def _reference_topk(rows, queries, k, candidates=None):
    """{(query_id, neighbor_id, cos_sim, rk)} by brute force over
    ``rows`` = [(vec_id, embedding, label)], ranked (cos desc, id)."""
    out = set()
    for qid, qv, _ in rows:
        if qid not in queries:
            continue
        scored = sorted(
            (-_floor_scaled_cos(qv, v), vid)
            for vid, v, _ in rows
            if vid != qid and (candidates is None or (qid, vid) in candidates)
        )
        out |= {(qid, vid, -neg, rk) for rk, (neg, vid) in enumerate(scored[:k], 1)}
    return out


def test_cosine_topk_matches_floor_scaled_reference(spark):
    """The one exact-cosine scorer against a pure-Python floor-scaled
    reference on crafted vectors: an exact cosine tie is won by the
    lower neighbor_id, the k boundary cuts inside a tie, and the
    candidate path returns brute force restricted to the candidates."""
    from lambda_lakehouse_spark.operators.similarity import cosine_topk

    rows = [
        (0, _vec((0, 1.0), (1, 0.5)), 1),
        (1, _vec((0, 2.0), (1, 1.0)), 1),  # parallel to 0: cos 1
        (2, _vec((0, 0.25), (1, 0.125)), 2),  # parallel to 0: exact tie with 1
        (3, _vec((0, 0.3), (2, 0.9)), 2),
        (4, _vec((1, -1.0), (3, 0.7)), 3),
        (5, _vec((0, 0.6), (1, 0.1), (3, 0.2)), 3),
        (6, _vec((2, 1.0)), 1),
    ]
    emb = _emb_df(spark, rows)
    qf = F.col("vec_id") < 2

    def got(df):
        return {tuple(r) for r in df.collect()}

    # k=1 on query 0: neighbors 1 and 2 tie at cos 1.0 — the lower id wins
    top1 = got(cosine_topk(emb, qf, k=1))
    assert (0, 1, 1.0, 1) in top1
    assert top1 == _reference_topk(rows, {0, 1}, 1)
    for k in (2, 3, len(rows)):
        assert got(cosine_topk(emb, qf, k=k)) == _reference_topk(rows, {0, 1}, k)
    # k boundary: exactly k rows per query, rk 1..k
    assert sorted(r[3] for r in got(cosine_topk(emb, qf, k=3)) if r[0] == 0) == [1, 2, 3]

    cand_pairs = {(0, 2), (0, 4), (0, 6), (1, 0), (1, 5)}
    cands = spark.createDataFrame(
        sorted(cand_pairs), "query_id bigint, neighbor_id bigint"
    )
    assert got(cosine_topk(emb, qf, k=2, candidates=cands)) == _reference_topk(
        rows, {0, 1}, 2, cand_pairs
    )


@pytest.mark.parametrize(
    "case",
    ["null_vector", "null_element", "ragged", "empty"],
)
def test_embedding_contract_violations_raise_named_error(spark, case):
    """A NULL vector, a NULL element, or a vector of another length or
    none must fail loudly with the offending vec_id — through the top-k
    scorer and the threshold-pair path (dedup_embedding_cosine), and,
    except for another length, through the consumers of the exploded
    form (IVF, PQ, SemDeDup) — instead of scoring NULL or silently
    dropping positions."""
    from lambda_lakehouse_spark.operators.semantic import pq_encode, semdedup_verdicts
    from lambda_lakehouse_spark.operators.similarity import (
        _flat,
        cosine_topk,
        ivf_cosine_topk,
    )

    bad = {
        "null_vector": None,
        "null_element": [1.0, None] + [0.5] * 62,
        "ragged": [1.0] * 63,
        "empty": [],
    }[case]
    rows = [(0, _vec((0, 1.0)), 1), (1, _vec((1, 1.0)), 1), (7, bad, 1)]
    emb = _emb_df(spark, rows)
    with pytest.raises(Exception, match=r"EMBEDDING_CONTRACT.*vec_id=7"):
        cosine_topk(emb, F.col("vec_id") == 0, k=3).collect()
    with tempfile.TemporaryDirectory() as d:
        emb.write.parquet(f"{d}/embeddings.parquet")
        with pytest.raises(Exception, match=r"EMBEDDING_CONTRACT.*vec_id=7"):
            _q("dedup_embedding_cosine").spark(spark, d).collect()
    if case == "ragged":
        return  # _flat accepts a corpus of any one dimension, so a short vector passes it
    # the per-dimension consumers of _flat: IVF assignment, PQ codes,
    # SemDeDup cells
    for consumer in (
        lambda: ivf_cosine_topk(emb, F.col("vec_id") == 0),
        lambda: pq_encode(_flat(emb).select("vec_id", "pos", "val")),
        lambda: semdedup_verdicts(emb),
    ):
        with pytest.raises(Exception, match=r"EMBEDDING_CONTRACT.*vec_id=7"):
            consumer().collect()


def test_bpe_train_merges_hand_computed(spark):
    """Three rounds on a crafted corpus, fully hand-derived:
    round 1 merges (a,b)x3, round 2 (ab,c)x2, round 3 breaks the
    count tie by (l, r) order to (ab, abc)."""
    import tempfile


    rows = [(0, "a b a b c", "en", "s", 9), (1, "a b c c", "en", "s", 7)]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, rows, d)
        out = sorted(
            _q("text_bpe_train_merges").spark(spark, d).collect(),
            key=lambda r: r.step,
        )
    got = [
        (r.step, r.pair_left, r.pair_right, r.merged, r.pair_count) for r in out
    ]
    assert got == [
        (1, "a", "b", "ab", 3),
        (2, "ab", "c", "abc", 2),
        (3, "ab", "abc", "ababc", 1),
    ]
