"""Crafted-fixture semantics tests for text, corpus, graph, dedup and
vector-audit operators (the full DuckDB-oracle compare runs in
test_oracle_queries.py::test_query_matches_oracle; these pin the
operator semantics on inputs with known closed-form answers)."""

from __future__ import annotations

import math

from tests.conftest import SF_DIR


def _doc_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_runs_single_shared_run(spark):
    """Two docs embedding the same 12-token passage at different
    offsets report exactly one >= 10-token run of 12 tokens; an
    unrelated doc pairs with neither."""
    from lambda_lakehouse_spark.operators.dedup import substring_run_pairs

    base = " ".join(f"c{i}" for i in range(12))
    docs = _doc_df(
        spark,
        [
            (1, f"a1 a2 {base} a3"),
            (2, f"b1 {base} b4 b5"),
            (3, " ".join(f"z{i}" for i in range(16))),
        ],
    )
    rows = substring_run_pairs(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.n_runs == 1
    assert r.max_run_tokens == 12
    assert r.total_run_tokens == 12


def test_substring_runs_two_separate_runs(spark):
    """Two shared passages separated by differing filler merge into
    two distinct runs (different diagonals), counted separately."""
    from pyspark.sql import functions as F  # noqa: F401

    from lambda_lakehouse_spark.operators.dedup import substring_run_pairs

    r1 = " ".join(f"p{i}" for i in range(10))
    r2 = " ".join(f"q{i}" for i in range(11))
    docs = _doc_df(
        spark,
        [
            (1, f"{r1} x1 {r2}"),
            (2, f"{r1} y1 y2 {r2}"),
        ],
    )
    rows = substring_run_pairs(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_runs == 2
    assert r.max_run_tokens == 11
    assert r.total_run_tokens == 21


def test_substring_coverage_merges_overlapping_partners(spark):
    """Doc 1 shares tokens 1-12 with doc 2 and tokens 7-18 with doc 3;
    the interval union must count 18 covered tokens, not 24."""
    from lambda_lakehouse_spark.operators.dedup import substring_coverage

    t = [f"t{i}" for i in range(18)]
    docs = _doc_df(
        spark,
        [
            (1, " ".join(t) + " a9"),
            (2, "b1 b2 " + " ".join(t[:12]) + " b3"),
            (3, "c1 " + " ".join(t[6:]) + " c2 c3"),
        ],
    )
    cov = {r.doc_id: r for r in substring_coverage(docs).collect()}
    assert cov[1].n_tokens == 19
    assert cov[1].covered_tokens == 18
    assert math.isclose(cov[1].coverage, 18 / 19)
    # partners cover exactly their embedded copy
    assert cov[2].covered_tokens == 12
    assert cov[3].covered_tokens == 12


def test_isotropy_degenerate_and_centered(spark):
    """All-identical vectors -> anisotropy ~= 1; an exactly symmetric
    +v/-v cloud -> mean vector 0 -> anisotropy 0."""
    from lambda_lakehouse_spark.operators.evalstats import embedding_isotropy

    v = [0.25 if i % 2 == 0 else -0.125 for i in range(64)]
    neg = [-x for x in v]
    rows = [(0, v)] * 4 + [(1, v), (1, neg), (1, v), (1, neg)]
    emb = spark.createDataFrame(rows, "label int, embedding array<float>")
    got = {r.label: r for r in embedding_isotropy(emb).collect()}
    assert got[0].n_vecs == 4 and got[1].n_vecs == 4
    assert math.isclose(got[0].anisotropy, 1.0, abs_tol=1e-4)
    assert got[1].anisotropy == 0.0
    # mean squared norm matches the closed form ||v||^2 (quantized)
    norm_sq = sum(x * x for x in v)
    assert math.isclose(got[0].mean_norm_sq, norm_sq, abs_tol=1e-4)


def test_fertility_closed_form(spark):
    """Two tiny docs with hand-countable bytes/words/BPE tokens."""
    from lambda_lakehouse_spark.operators.text import fertility_stats

    docs = spark.createDataFrame(
        [("en", "s1", "ab cd"), ("en", "s1", "a,b")],
        "lang string, source string, text string",
    )
    r = fertility_stats(docs).collect()[0]
    assert (r.lang, r.source) == ("en", "s1")
    assert r.n_docs == 2
    assert r.byte_total == 8  # "ab cd" = 5 + "a,b" = 3
    assert r.word_total == 3  # [ab, cd] + [a,b]
    assert r.token_total == 5  # [ab, cd] + [a][,][b]
    assert math.isclose(r.fertility, 5 / 3)
    assert math.isclose(r.bytes_per_token, 8 / 5)


def test_unigram_cosine_closed_form(spark):
    """cnt(s1)={a:2,b:1}, cnt(s2)={a:1,b:2} -> cos = 4/5; a source
    sharing no word with the others produces no pair row."""
    from lambda_lakehouse_spark.operators.corpus import source_unigram_cosine

    docs = spark.createDataFrame(
        [("s1", "a a b"), ("s2", "a b b"), ("s3", "c")],
        "source string, text string",
    )
    rows = source_unigram_cosine(docs).collect()
    assert {(r.source_a, r.source_b) for r in rows} == {("s1", "s2")}
    r = rows[0]
    assert r.dot == 4
    assert math.isclose(r.cosine, 4 / 5)


def test_kcenter_known_geometry(spark):
    """4 points in a 3-4-5 rectangle: seed = min vec_id, then the
    greedy picks follow the exact farthest-point order with the
    documented (DESC dist, vec_id) tie-break."""
    from lambda_lakehouse_spark.operators.semantic import kcenter_coreset

    S = int(1e12)
    rows = [
        (0, [0.0, 0.0] + [0.0] * 6),
        (1, [3.0, 0.0] + [0.0] * 6),
        (2, [0.0, 4.0] + [0.0] * 6),
        (3, [3.0, 4.0] + [0.0] * 6),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [(r.step, r.vec_id, r.d2_scaled)
           for r in kcenter_coreset(emb, k=4).orderBy("step").collect()]
    assert got == [
        (0, 0, 0),        # seed: min vec_id
        (1, 3, 25 * S),   # farthest from v0 is the opposite corner
        (2, 1, 9 * S),    # v1 and v2 tie at 9; vec_id breaks the tie
        (3, 2, 9 * S),
    ]


def test_chi2_keywords_closed_form(spark):
    """Two hand-countable sources: each one's over-represented word
    wins with the exact textbook chi-square; sub-min-count and
    under-represented cells are filtered."""
    from lambda_lakehouse_spark.operators.corpus import chi2_keywords

    docs = spark.createDataFrame(
        [("s1", " ".join(["x"] * 6 + ["y"] * 4)), ("s2", " ".join(["y"] * 10))],
        "source string, text string",
    )
    rows = {(r.source, r.word): r for r in chi2_keywords(docs).collect()}
    # s1: x has a=6,b=0,c=4,d=10 -> chi2 = 20*60^2/(6*14*10*10)
    # s2: y has a=10,b=4,c=0,d=6 -> same value by symmetry
    want = 20 * 60 * 60 / (6 * 14 * 10 * 10)
    assert set(rows) == {("s1", "x"), ("s2", "y")}
    assert rows[("s1", "x")].a == 6 and rows[("s2", "y")].a == 10
    assert math.isclose(rows[("s1", "x")].chi2, want)
    assert math.isclose(rows[("s2", "y")].chi2, want)


def _sig_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, x long, y long")


def _spearman_closed_form(pairs):
    """Exact tie-corrected Spearman via Pearson on average ranks,
    computed with Fractions (the textbook definition, independent of
    the operator's decimal/rank machinery)."""
    from fractions import Fraction

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: (vals[i], i))
        rn = {i: p + 1 for p, i in enumerate(order)}
        out = []
        for i, v in enumerate(vals):
            grp = [rn[j] for j in range(len(vals)) if vals[j] == v]
            out.append(Fraction(min(grp) + max(grp), 2))
        return out

    xs = avg_ranks([p[0] for p in pairs])
    ys = avg_ranks([p[1] for p in pairs])
    n = len(pairs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    if vx <= 0 or vy <= 0:
        return 0.0
    num = n * sxy - sx * sy
    return float(num) / math.sqrt(float(vx) * float(vy))


def test_spearman_tie_correction_matches_closed_form(spark):
    from lambda_lakehouse_spark.operators.evalstats import spearman_rho

    pairs = [(1, 2), (1, 1), (2, 3), (3, 3), (3, 5)]
    df = _sig_df(
        spark, [(i + 1, x, y) for i, (x, y) in enumerate(pairs)]
    )
    r = spearman_rho(df, "x", "y").collect()[0]
    assert r.n_docs == 5
    assert (r.n_distinct_x, r.n_distinct_y) == (3, 4)
    assert math.isclose(r.spearman_rho, _spearman_closed_form(pairs))


def test_spearman_monotone_and_reversed_and_constant(spark):
    from lambda_lakehouse_spark.operators.evalstats import spearman_rho

    mono = _sig_df(spark, [(i, i, 10 * i + 3) for i in range(1, 9)])
    assert math.isclose(
        spearman_rho(mono, "x", "y").collect()[0].spearman_rho, 1.0
    )
    rev = _sig_df(spark, [(i, i, -i) for i in range(1, 9)])
    assert math.isclose(
        spearman_rho(rev, "x", "y").collect()[0].spearman_rho, -1.0
    )
    # zero-variance signal: guarded to rho = 0 on both engines
    const = _sig_df(spark, [(i, i, 7) for i in range(1, 9)])
    assert spearman_rho(const, "x", "y").collect()[0].spearman_rho == 0.0


def test_cluster_silhouette_crafted_geometry(spark):
    """Two explicit orthogonal centroids, four vectors with hand-
    computed squared distances: s = (b2-a2)/b2 per vector, per-cell
    means exact up to the 1e9 fixed-point floor."""
    from lambda_lakehouse_spark.operators.semantic import cluster_silhouette

    def vec(**pos_val):
        v = [0.0] * 64
        for p, x in pos_val.items():
            v[int(p[1:]) - 1] = x
        return v

    emb = spark.createDataFrame(
        [
            (1, vec(p1=1.0), 0),          # at c0: a2=0, b2=2   -> s=1
            (2, vec(p1=0.5), 0),          # a2=0.25, b2=1.25    -> s=0.8
            (3, vec(p2=1.0), 0),          # at c1: a2=0, b2=2   -> s=1
            (4, vec(p1=0.6, p2=0.8), 0),  # c1: a2=0.4, b2=0.8  -> s=0.5
        ],
        "vec_id long, embedding array<double>, label int",
    )
    cents = spark.createDataFrame(
        [(c, p + 1, 1.0 if (c, p) in {(0, 0), (1, 1)} else 0.0)
         for c in (0, 1) for p in range(64)],
        "cell int, pos int, cval double",
    )
    rows = {r.cell: r for r in cluster_silhouette(emb, cents).collect()}
    assert set(rows) == {0, 1}
    assert rows[0].n_vecs == 2 and rows[1].n_vecs == 2
    assert math.isclose(rows[0].mean_sil, 0.9, abs_tol=1e-8)
    assert math.isclose(rows[0].mean_a2, 0.125, abs_tol=1e-8)
    assert math.isclose(rows[0].mean_b2, 1.625, abs_tol=1e-8)
    assert math.isclose(rows[1].mean_sil, 0.75, abs_tol=1e-8)
    assert math.isclose(rows[1].mean_a2, 0.2, abs_tol=1e-8)
    assert math.isclose(rows[1].mean_b2, 1.4, abs_tol=1e-8)


def test_cluster_silhouette_trained_cells_properties(spark):
    """On the real table with the trained quantizer: every cell's mean
    silhouette is in [0, 1] (assignment-consistent clustering cannot
    go negative), b >= a in the means, and the memberships cover the
    corpus."""
    from lambda_lakehouse_spark.operators.semantic import cluster_silhouette
    from lambda_lakehouse_spark.sources.readers import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    rows = cluster_silhouette(emb).collect()
    # Precondition (r9 advice): the coverage invariant below only holds
    # while the trained quantizer keeps >= 2 non-empty cells —
    # cluster_silhouette silently drops vectors whose second-nearest
    # cell is missing (s2 null). Assert it explicitly so a degenerate
    # quantizer fails loudly instead of shrinking the test's coverage.
    assert len(rows) >= 2, "trained quantizer degenerated to < 2 cells"
    assert sum(r.n_vecs for r in rows) == emb.count()
    for r in rows:
        assert 0.0 <= r.mean_sil <= 1.0
        assert r.mean_b2 >= r.mean_a2 >= 0.0


def test_bitext_margin_hub_breaks_mutuality(spark):
    """Even side {0: e1, 2: e2, 4: .6e2+.8e3}, odd side {1: e1,
    3: (e2+e3)/sqrt2}. Query 2 matches 3 but 3's best even partner is
    the hub 4, so 2 is non-mutual with the exact ratio margin
    2*(1/sqrt2) / (1/sqrt2 + 1.4/sqrt2) = 5/6; 0 and 4 are mutual
    with margin 1."""
    from lambda_lakehouse_spark.operators.similarity import bitext_margin_top1

    s = 1.0 / math.sqrt(2.0)

    def vec(**pos_val):
        v = [0.0] * 64
        for p, x in pos_val.items():
            v[int(p[1:]) - 1] = x
        return v

    emb = spark.createDataFrame(
        [
            (0, vec(p1=1.0), 0),
            (1, vec(p1=1.0), 0),
            (2, vec(p2=1.0), 0),
            (3, vec(p2=s, p3=s), 0),
            (4, vec(p2=0.6, p3=0.8), 0),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    rows = {r.query_id: r for r in bitext_margin_top1(emb).collect()}
    assert set(rows) == {0, 2, 4}
    assert (rows[0].match_id, rows[0].mutual) == (1, 1)
    assert math.isclose(rows[0].margin, 1.0, rel_tol=1e-9)
    assert (rows[2].match_id, rows[2].mutual) == (3, 0)
    assert math.isclose(rows[2].cos_xy, s, rel_tol=1e-9)
    assert math.isclose(rows[2].margin, 5.0 / 6.0, rel_tol=1e-9)
    assert (rows[4].match_id, rows[4].mutual) == (3, 1)
    assert math.isclose(rows[4].margin, 1.0, rel_tol=1e-9)


def _sym_edges(spark, pairs):
    both = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    return spark.createDataFrame(sorted(set(both)), "u long, v long")


def test_kcore_clique_with_pendant_chain(spark):
    """4-clique {1..4} with chain 4-5-6: clique coreness 3, chain 1 —
    the h-index refinement reaches the exact peeling answer and the
    per-round values never increase."""
    from lambda_lakehouse_spark.operators.graph import kcore_coreness

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = _sym_edges(spark, clique + [(4, 5), (5, 6)])
    got = {r.u: r.h for r in kcore_coreness(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 1}
    # monotone non-increasing from degree toward coreness
    deg = {r.u: r.h for r in kcore_coreness(edges, iters=0).collect()}
    one = {r.u: r.h for r in kcore_coreness(edges, iters=1).collect()}
    assert all(one[u] <= deg[u] for u in deg)
    assert all(got[u] <= one[u] for u in got)


def test_kcore_star_collapses_to_one(spark):
    """A star (hub degree 5, leaves degree 1) is a 1-core everywhere:
    the hub's h-index over five 1-valued neighbors is 1."""
    from lambda_lakehouse_spark.operators.graph import kcore_coreness

    edges = _sym_edges(spark, [(0, i) for i in range(1, 6)])
    got = {r.u: r.h for r in kcore_coreness(edges).collect()}
    assert got == {i: 1 for i in range(6)}


# ---------------------------------------------------------------------------
# round-10 build-ahead: bigram backoff surprisal + perplexity drift
# ---------------------------------------------------------------------------


def _src_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _bigram_replay(rows, targets=("src1", "src2"), buckets=256, penalty=1):
    """Exact Python replay of lm_bigram_doc_scores: same md5 bucket,
    same Laplace integer-quotient digit staircase, same stupid-backoff
    penalty. Integer arithmetic throughout, so equality is exact."""
    import hashlib

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % buckets

    streams = {}  # doc_id -> (source, [(b, bp), ...])
    for doc_id, source, text in rows:
        toks = [t for t in text.split(" ") if t]
        if text == "" or not toks:
            if text == "":
                continue  # WHERE text <> ''
        bs = [bucket(t) for t in toks]
        streams[doc_id] = (
            source,
            [(b, bs[i - 1] if i > 0 else None) for i, b in enumerate(bs)],
        )
    umodel, bmodel = {}, {}
    for source, pairs in streams.values():
        if source not in targets:
            continue
        for b, bp in pairs:
            umodel[b] = umodel.get(b, 0) + 1
            if bp is not None:
                bmodel[(bp, b)] = bmodel.get((bp, b), 0) + 1
    c_tot = sum(umodel.values())
    out = {}
    for doc_id, (source, pairs) in streams.items():
        if not pairs:
            continue
        n = len(pairs)
        oov = hit = sur = 0
        for b, bp in pairs:
            uni = len(str((c_tot + buckets) // (umodel.get(b, 0) + 1)))
            if bp is None:
                s = uni
            elif (bp, b) in bmodel:
                s = len(str((umodel.get(bp, 0) + buckets) // (bmodel[(bp, b)] + 1)))
                hit += 1
            else:
                s = penalty + uni
            if b not in umodel:
                oov += 1
            sur += s
        out[doc_id] = (source, n, oov, hit, sur, sur / n)
    return out


def test_bigram_surprisal_matches_python_replay(spark):
    """Model test on a mixed corpus (shared vocab, reversed word order,
    disjoint vocab, single token, multi-space text): every per-doc row
    equals the integer-exact Python replay bit-for-bit."""
    from lambda_lakehouse_spark.operators.corpus import lm_bigram_doc_scores

    rows = [
        (1, "src1", "the quick brown fox jumps over the lazy dog"),
        (2, "src1", "the quick brown fox"),
        (3, "src2", "pack my box with five dozen jugs"),
        (4, "other", "the quick brown fox jumps over the lazy dog"),
        (5, "other", "dog lazy the over jumps fox brown quick the"),
        (6, "other", "zzzqx wwwvy uuutk"),
        (7, "other", "solo"),
        (8, "other", "  the   quick  "),
    ]
    exp = _bigram_replay(rows)
    got = {
        r.doc_id: (
            r.source, r.n_tokens, r.n_oov, r.n_bigram_hits, r.surprisal,
            r.avg_digits,
        )
        for r in lm_bigram_doc_scores(_src_docs(spark, rows)).collect()
    }
    assert set(got) == set(exp)
    for d in exp:
        assert got[d][:5] == exp[d][:5], (d, got[d], exp[d])
        assert math.isclose(got[d][5], exp[d][5], rel_tol=0, abs_tol=0.0), d


def test_bigram_surprisal_structural_invariants(spark):
    """Closed-form structure: a doc IDENTICAL to a target doc has
    every bigram seen (hits = n-1, oov = 0, first token unigram-only);
    hits <= n-1 always; surprisal >= n (>= 1 digit per token); the
    backoff path scores strictly above the same doc's no-penalty
    floor."""
    from lambda_lakehouse_spark.operators.corpus import lm_bigram_doc_scores

    rows = [
        (1, "src1", "alpha beta gamma delta epsilon"),
        (2, "other", "alpha beta gamma delta epsilon"),  # exact copy
        (3, "other", "epsilon delta gamma beta alpha"),  # reversed
    ]
    got = {r.doc_id: r for r in lm_bigram_doc_scores(_src_docs(spark, rows)).collect()}
    copy = got[2]
    assert copy.n_tokens == 5
    assert copy.n_bigram_hits == 4  # all 4 bigrams seen in target
    assert copy.n_oov == 0
    for r in got.values():
        assert r.n_bigram_hits <= r.n_tokens - 1
        assert r.surprisal >= r.n_tokens


def test_perplexity_drift_target_is_unity(spark):
    """With a single target source, that source's drift_ratio is
    EXACTLY 1.0 (its average over the pooled target average — itself);
    a source whose vocabulary is inside the target's buckets has
    oov_rate 0; an absent-target configuration yields NULL ratios."""
    from lambda_lakehouse_spark.operators.corpus import lm_source_drift

    rows = [
        (1, "src1", "one two three four"),
        (2, "src1", "one two five"),
        (3, "other", "one two three"),       # vocab subset of src1
        (4, "weird", "qqqa qqqb qqqc qqqd"),  # disjoint vocab
    ]
    docs = _src_docs(spark, rows)
    got = {r.source: r for r in lm_source_drift(docs, ("src1",)).collect()}
    assert got["src1"].drift_ratio == 1.0
    assert got["other"].oov_rate == 0.0
    assert got["other"].n_docs == 1 and got["other"].token_tot == 3
    # totals are exact integers
    assert got["src1"].token_tot == 7 and got["src1"].n_docs == 2

    absent = {r.source: r for r in lm_source_drift(docs, ("nope",)).collect()}
    assert all(r.drift_ratio is None for r in absent.values())


def test_perplexity_drift_consistent_with_doc_scores(spark):
    """The per-source totals are exactly the sums of lm_doc_scores
    rows (the audit composes the certified rails, adds no arithmetic
    of its own beyond the divisions)."""
    from lambda_lakehouse_spark.operators.corpus import (
        lm_doc_scores, lm_source_drift,
    )
    from lambda_lakehouse_spark.sources.readers import read_table

    docs = read_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    )
    doc_rows = lm_doc_scores(docs).collect()
    exp = {}
    for r in doc_rows:
        n, t, o, s = exp.get(r.source, (0, 0, 0, 0))
        exp[r.source] = (n + 1, t + r.n_tokens, o + r.n_oov, s + r.surprisal)
    got = {r.source: r for r in lm_source_drift(docs).collect()}
    assert set(got) == set(exp)
    for src, (n, t, o, s) in exp.items():
        r = got[src]
        assert (r.n_docs, r.token_tot, r.oov_tot, r.surprisal_tot) == (n, t, o, s)


def test_ann_recall_probe_all_is_perfect(spark):
    """Probing every cell makes the IVF candidate set the whole corpus,
    so recall@k == 1.0 for every query (the audit-level twin of the
    probe-all==brute equivalence the IVF path itself is tested with)."""
    from lambda_lakehouse_spark.operators.similarity import (
        N_CELLS, N_QUERIES, ann_recall_at_k,
    )
    from lambda_lakehouse_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    emb = read_table(spark, SF_DIR, "embeddings")
    rows = ann_recall_at_k(
        emb, F.col("vec_id") < N_QUERIES, n_probe=N_CELLS
    ).collect()
    assert len(rows) == N_QUERIES
    for r in rows:
        assert r.n_hit == r.n_truth == r.n_approx
        assert r.recall_at_k == 1.0


def test_ann_recall_matches_component_set_intersection(spark):
    """n_truth/n_approx/n_hit are exactly the set sizes of the two
    certified component queries' collected outputs — the audit adds
    counting, nothing else."""
    from lambda_lakehouse_spark.operators.similarity import (
        IVF_K, N_QUERIES, ann_recall_at_k, cosine_topk, ivf_cosine_topk,
    )
    from lambda_lakehouse_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    emb = read_table(spark, SF_DIR, "embeddings")
    qf = F.col("vec_id") < N_QUERIES
    truth, approx = {}, {}
    for r in cosine_topk(emb, qf, k=IVF_K).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ivf_cosine_topk(emb, qf, k=IVF_K).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {r.query_id: r for r in ann_recall_at_k(emb, qf).collect()}
    assert set(got) == set(truth)
    for q, r in got.items():
        t, a = truth[q], approx.get(q, set())
        assert (r.n_truth, r.n_approx, r.n_hit) == (len(t), len(a), len(t & a))
        assert 0.0 <= r.recall_at_k <= 1.0
        assert r.n_hit <= min(r.n_truth, r.n_approx)


def test_simhash64_banded_pairs_equal_bruteforce(spark):
    """Pigeonhole completeness for the 64-bit scheme: the 8x8-bit
    banding must find EXACTLY the pairs a brute-force all-pairs
    string-hamming scan finds at the <= 3 threshold — which also
    proves the two-half conv verify (bit_count on hi/lo BIGINTs)
    equals the per-character signature distance, including docs whose
    leading bit is set (the case a single 64-bit conv would wrap)."""
    from pyspark.sql import functions as SF

    from lambda_lakehouse_spark.operators.dedup import (
        _simhash64_expr, simhash64_hamming_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 4} alpha beta gamma delta w{i % 7} z{i % 3}")
         for i in range(40)],
        "doc_id long, text string",
    )
    banded = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash64_hamming_pairs(docs).collect()
    }

    sigs = {
        r.doc_id: r.simhash
        for r in docs.select(
            "doc_id", SF.split(SF.col("text"), r"\s+").alias("toks")
        ).select("doc_id", SF.expr(_simhash64_expr()).alias("simhash")).collect()
    }
    assert all(len(s) == 64 for s in sigs.values())
    # non-vacuous sign-bit coverage: at least one signature has bit 1
    # set, so the hi-half conv path is exercised where a single 64-bit
    # conv-to-bigint would overflow
    assert any(s[0] == "1" for s in sigs.values())
    brute = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(x != y for x, y in zip(sigs[a], sigs[b]))
            if h <= 3:
                brute[(a, b)] = h
    assert banded == brute and brute  # non-vacuous


def test_simhash64_discriminates_where_32bit_saturates(spark):
    """The widening rationale, asserted: on a shared-vocabulary corpus
    the 64-bit signature admits at most as many <= 3-hamming pairs as
    the 32-bit one (monotone discrimination; strictly fewer on this
    fixture)."""
    from lambda_lakehouse_spark.operators.dedup import (
        simhash64_hamming_pairs, simhash_hamming_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "shared common vocab words every doc has "
             f"plus u{i % 5} v{i % 6}")
         for i in range(36)],
        "doc_id long, text string",
    )
    p32 = {(r.doc_a, r.doc_b) for r in simhash_hamming_pairs(docs).collect()}
    p64 = {(r.doc_a, r.doc_b)
           for r in simhash64_hamming_pairs(docs).collect()}
    assert len(p64) <= len(p32)


# --- embedding hubness (round-12 queue: eval_embedding_hubness) -------


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_hubness_planted_hub_geometry(spark):
    """A vector deliberately closest to EVERY panel query collects
    k_occ = |panel| at k=1 while everything else sits in the antihub
    bucket — the planted-hub closed form."""
    from lambda_lakehouse_spark.operators.similarity import (
        embedding_hubness,
    )

    rows = [
        # panel queries (vec_id % 5 == 0, < 1000): near the hub axis,
        # each perturbed on a DIFFERENT coordinate so query-query
        # cosine (~0.990) stays below query-hub cosine (~0.995)
        (0, [1.0, 0.1, 0.0, 0.0], 0),
        (5, [1.0, 0.0, 0.1, 0.0], 0),
        (10, [1.0, 0.0, 0.0, 0.1], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 0),  # the planted hub
        (2, [0.0, 0.0, 0.0, 1.0], 1),  # off-axis: never retrieved
        (3, [0.0, 1.0, -1.0, 0.0], 1),  # off-axis: never retrieved
    ]
    got = {
        r.k_occ: r.n_vectors
        for r in embedding_hubness(_emb_df(spark, rows), k=1).collect()
    }
    assert got == {3: 1, 0: 5}


def test_hubness_histogram_mass_conservation(spark):
    """Structural invariants on the real table: histogram mass equals
    the corpus size and total k-occurrence equals |panel| * k (every
    query emits exactly k neighbor slots)."""
    from pyspark.sql import functions as F

    from lambda_lakehouse_spark.operators.similarity import (
        HUB_SAMPLE_CAP,
        HUB_SAMPLE_MOD,
        TOP_K,
        embedding_hubness,
    )
    from lambda_lakehouse_spark.sources.readers import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    hist = embedding_hubness(emb).collect()
    n_vecs = emb.count()
    n_panel = emb.where(
        (F.col("vec_id") % HUB_SAMPLE_MOD == 0)
        & (F.col("vec_id") < HUB_SAMPLE_CAP)
    ).count()
    assert sum(r.n_vectors for r in hist) == n_vecs
    assert sum(r.k_occ * r.n_vectors for r in hist) == n_panel * TOP_K


# --- MinHash estimator calibration (round-12 queue) -------------------


def test_minhash_calibration_identical_pair_is_exact(spark):
    """Two byte-identical documents calibrate perfectly: one pair at
    m = k with estimated and exact Jaccard both 1.0 and zero error;
    the disjoint third document shares no band and never pairs."""
    from lambda_lakehouse_spark.operators.dedup import (
        MINHASH_K,
        minhash_estimate_calibration,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = _doc_df(
        spark,
        [(1, text), (2, text), (3, "zzzz qqqq vvvv wwww kkkk jjjj xxxx")],
    )
    rows = minhash_estimate_calibration(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_matches == MINHASH_K
    assert r.n_pairs == 1
    assert r.est_jaccard == 1.0
    assert r.mean_exact_jaccard == 1.0
    assert r.mean_abs_err == 0.0


def test_minhash_calibration_covers_all_candidates(spark):
    """The calibration rows partition the LSH candidate set: bucketed
    pair counts sum to |minhash_lsh_pairs|, every est_jaccard is
    m / k on the nose, and means stay inside [0, 1]."""
    from lambda_lakehouse_spark.operators.dedup import (
        MINHASH_K,
        minhash_estimate_calibration,
        minhash_lsh_pairs,
    )
    from lambda_lakehouse_spark.sources.readers import read_table

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rows = minhash_estimate_calibration(docs).collect()
    n_cand = minhash_lsh_pairs(docs).count()
    assert sum(r.n_pairs for r in rows) == n_cand
    for r in rows:
        assert r.est_jaccard == r.n_matches / MINHASH_K
        assert 0.0 <= r.mean_exact_jaccard <= 1.0
        assert 0.0 <= r.mean_abs_err <= 1.0


# --- PQ distortion audit (round-12 queue: eval_pq_distortion) ---------


def test_pq_distortion_identical_corpus_is_zero(spark):
    """A corpus of one repeated vector reconstructs perfectly: every
    subspace collapses to a single live codeword with exactly zero
    mean squared error."""
    from lambda_lakehouse_spark.operators.semantic import (
        PQ_M,
        pq_distortion,
    )
    from lambda_lakehouse_spark.operators.similarity import _flat

    vec = [float((i % 7) - 3) for i in range(64)]
    emb = _emb_df(spark, [(i, vec, 0) for i in range(8)])
    rows = pq_distortion(
        _flat(emb).select("vec_id", "pos", "val")
    ).collect()
    assert len(rows) == PQ_M
    for r in rows:
        assert r.n_vectors == 8
        assert r.n_codes_used == 1
        assert r.mean_sq_err == 0.0


def test_pq_distortion_real_table_invariants(spark):
    """Structural invariants at SF_DIR: one row per subspace, full
    vector coverage, utilization within [1, PQ_K], and the distortion
    of a trained codebook beats the single-codeword (grand-mean)
    baseline on this corpus."""
    from lambda_lakehouse_spark.operators.semantic import (
        PQ_K,
        PQ_M,
        pq_distortion,
    )
    from lambda_lakehouse_spark.operators.similarity import _flat
    from lambda_lakehouse_spark.sources.readers import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    flat = _flat(emb).select("vec_id", "pos", "val")
    rows = pq_distortion(flat).collect()
    n = emb.count()
    assert len(rows) == PQ_M
    assert sorted(r.subspace for r in rows) == list(range(PQ_M))
    for r in rows:
        assert r.n_vectors == n
        assert 1 <= r.n_codes_used <= PQ_K
        assert r.mean_sq_err >= 0.0


# --- IDF-weighted Jaccard (round-12 queue) ----------------------------


def test_weighted_jaccard_identical_pair_is_one(spark):
    """Identical documents score weighted Jaccard exactly 1.0 (the
    weighting cannot change a ratio of equal sums)."""
    from lambda_lakehouse_spark.operators.dedup import (
        idf_weighted_jaccard_pairs,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _doc_df(spark, [(100, text), (101, text)])
    rows = idf_weighted_jaccard_pairs(docs, threshold=0.0).collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(100, 101)]
    assert rows[0].weighted_jaccard == 1.0
    assert rows[0].w_inter == rows[0].w_union


def test_weighted_jaccard_discounts_boilerplate(spark):
    """Eight docs sharing a long boilerplate block with tiny rare
    tails: the MinHash estimator reads them as near-identical
    (est_jaccard >= 0.75, most pairs >= 0.875) while the IDF-weighted
    verify scores every pair materially lower — shared boilerplate
    carries ~1/8 the weight of the rare tails."""
    from lambda_lakehouse_spark.operators.dedup import (
        idf_weighted_jaccard_pairs,
        minhash_lsh_pairs,
    )

    boiler = " ".join(f"boilerword{i:03d}" for i in range(60))
    docs = _doc_df(
        spark,
        [(i, boiler + f" rare{i}a rare{i}b rare{i}c") for i in range(1, 9)]
    )
    cand = minhash_lsh_pairs(docs).collect()
    assert len(cand) == 27  # deterministic: seeded hashes, fixed text
    assert min(r.est_jaccard for r in cand) == 0.75
    assert sum(r.est_jaccard >= 0.875 for r in cand) == 16
    wj = idf_weighted_jaccard_pairs(docs, threshold=0.0).collect()
    assert len(wj) == 27
    for r in wj:
        assert 0.55 < r.weighted_jaccard < 0.70  # vs estimator's ~0.9+
        assert 0 < r.w_inter < r.w_union


# --- IVF cell balance (round-12 queue: eval_ivf_cell_balance) ---------


def test_ivf_cell_balance_mass_and_ratio_conservation(spark):
    """Structural invariants at SF_DIR: counts sum to the corpus size,
    n_total echoes it on every row, ratios are non-negative and
    average exactly 1 (up to double rounding), and the trained
    quantizer on this corpus keeps all N_CELLS cells live."""
    from lambda_lakehouse_spark.operators.similarity import (
        N_CELLS,
        ivf_cell_balance,
    )
    from lambda_lakehouse_spark.sources.readers import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    rows = ivf_cell_balance(emb).collect()
    n = emb.count()
    assert len(rows) == N_CELLS
    assert sum(r.n_vectors for r in rows) == n
    assert all(r.n_total == n for r in rows)
    assert all(r.balance_ratio >= 0.0 for r in rows)
    assert math.isclose(
        sum(r.balance_ratio for r in rows) / N_CELLS, 1.0, rel_tol=1e-12
    )
