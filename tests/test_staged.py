"""Crafted-fixture semantics tests for the graph, sampling, near-dup,
temporal and snapshot operators (BM25's live in test_operators.py).
The full DuckDB-oracle compare for every query runs in
test_oracle_queries.py::test_query_matches_oracle; these pin the
operator semantics independently."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_pagerank_crafted_against_power_iteration(spark):
    """Tiny symmetric graph: Spark fixed-iteration PageRank equals a
    pure-Python power iteration with the same decimal(28,6) per-edge
    quantization."""
    from lambda_lakehouse_spark.operators.graph import pagerank_fixed

    und = [(1, 2), (2, 3), (3, 1), (3, 4)]  # triangle + pendant
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long",
    )
    got = {r.node: r.r for r in pagerank_fixed(edges, n_iter=3).collect()}

    adj = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    n = len(adj)
    r = {v: 1.0 / n for v in adj}
    for _ in range(3):
        nxt = {}
        for v in adj:
            s = sum(
                round(r[u] / len(adj[u]), 6) for u in adj if v in adj[u]
            )
            nxt[v] = 0.15 / n + 0.85 * round(s, 6)
        r = nxt
    assert set(got) == set(r)
    for v in r:
        assert math.isclose(got[v], r[v], abs_tol=5e-6), (v, got[v], r[v])
    # pendant node 4 (degree 1) must rank below hub node 3
    assert got[3] > got[4]


def test_bloom_never_false_negative_and_bounded(spark):
    """Every true match must survive Bloom pruning (no false
    negatives), and the bit-set relation is bounded by M_BITS."""
    from lambda_lakehouse_spark.operators.bloom import (
        M_BITS, bloom_build, bloom_prune,
    )

    dim = spark.createDataFrame([(k,) for k in range(0, 500, 7)], "k long")
    fact = spark.createDataFrame([(i, i % 600) for i in range(3000)],
                                 "row_id long, k long")
    bits = bloom_build(dim, "k")
    assert bits.count() <= M_BITS
    cand = set(r.row_id for r in bloom_prune(fact, "k", bits).collect())
    truth = set(
        r.row_id
        for r in fact.join(dim, "k", "left_semi").collect()
    )
    assert truth <= cand  # Bloom filters never drop a true match


def test_collocations_crafted_lift(spark):
    """Known corpus: 'big data' always adjacent, 'red'/'blue' never
    co-adjacent — lift of the frequent pair matches the closed form."""
    from lambda_lakehouse_spark.operators.corpus import collocations_lift

    docs = spark.createDataFrame(
        [(i, "big data " + ("red " if i % 2 else "blue ") + "x") for i in range(10)],
        "doc_id long, text string",
    )
    rows = collocations_lift(docs, min_support=5, k=10).collect()
    got = {(r.w1, r.w2): r for r in rows}
    assert ("big", "data") in got
    r = got[("big", "data")]
    # counts: c_xy=10; c_big=10, c_data=10; Nt=40 tokens, Nb=30 bigrams
    assert r.c_xy == 10
    assert math.isclose(r.lift, (10 * 40 * 40) / (30 * 10 * 10), rel_tol=1e-12)
    # never-adjacent pair can't appear
    assert ("red", "blue") not in got and ("blue", "red") not in got
    # ranks dense from 1
    assert sorted(x.rank for x in rows) == list(range(1, len(rows) + 1))


def test_snapshot_delete_rollback_states(spark, tmp_path):
    """Rollback republishes the pre-delete file set as a NEW snapshot:
    history append-only, content identical to v1."""
    from lambda_lakehouse_spark.sources.snapshots import SnapshotTable

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i - 5)) for i in range(10)],
        "id long, part string, v double",
    )
    t = SnapshotTable(spark, str(tmp_path / "tbl"), partition_by=["part"])
    t.create(df)
    t.delete_where(F.col("v") < 0.0)
    assert t.read().count() == 5  # 0..4 minus negatives: ids 5..9 and 5? v=i-5
    t.rollback(1)
    assert sorted(r.id for r in t.read().collect()) == list(range(10))
    ops = [s["operation"] for s in t.snapshots()]
    assert ops == ["create", "delete", "rollback"]


def test_priority_sample_contracts(spark):
    """k >= n degenerates to the full population with est == weight
    (tau undefined); shrinking k keeps the larger sample's prefix —
    priority order is a fixed total order, so samples are nested."""
    from lambda_lakehouse_spark.operators.corpus import priority_sample

    items = spark.createDataFrame(
        [(i, (i % 7) + 1) for i in range(20)], "id long, w long"
    )
    full = priority_sample(items, "id", "w", k=50).collect()
    assert len(full) == 20
    assert all(r.est_weight == float(r.w) for r in full)

    k5 = priority_sample(items, "id", "w", k=5).collect()
    k3 = priority_sample(items, "id", "w", k=3).collect()
    order5 = [r.id for r in sorted(k5, key=lambda r: r.rank)]
    order3 = [r.id for r in sorted(k3, key=lambda r: r.rank)]
    assert order5[:3] == order3
    # estimator floor: every sampled est_weight >= its true weight
    assert all(r.est_weight >= r.w for r in k3)


def test_basket_rules_crafted(spark, tmp_path):
    """Crafted baskets: perfectly-correlated pair gets lift n/|x|,
    confidence 1.0 in both directions."""
    import os

    from lambda_lakehouse_spark.registry import load_all

    # baskets: {1,2} x3, {1,2,3} x1, {4,5} x2, {6} x2  -> 8 baskets
    rows = []
    baskets = [(1, 2), (1, 2), (1, 2), (1, 2, 3), (4, 5), (4, 5), (6,), (6,)]
    for oid, parts in enumerate(baskets):
        for p in parts:
            rows.append((oid, p))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    q = load_all()["basket_association_rules"]
    got = {(r.p1, r.p2): r for r in q.spark(spark, sf_dir).collect()}
    r12 = got[(1, 2)]
    # c_xy=4, c1=c2=4, n=8 -> lift = 4*8/(4*4) = 2.0, conf 1.0 each way
    assert r12.c_xy == 4 and r12.lift == 2.0
    assert r12.conf_1_to_2 == 1.0 and r12.conf_2_to_1 == 1.0
    r45 = got[(4, 5)]
    # c_xy=2, c4=c5=2, n=8 -> lift = 2*8/(2*2) = 4.0
    assert r45.c_xy == 2 and r45.lift == 4.0
    # singleton part 6 and sub-threshold (1,3),(2,3) pairs absent
    assert all(6 not in k for k in got)
    assert (1, 3) not in got and (2, 3) not in got


def test_mad_anomalies_crafted(spark):
    """Crafted group: median 10, MAD 1 — only the 100 outlier flags.
    A group where more than half the rows share one value has
    lower-median deviation 0 → MAD 0 → flags nothing (documented
    degenerate-spread guard), even with an extreme outlier present."""
    from lambda_lakehouse_spark.operators.sessionize import mad_anomalies

    rows = [(i, "g", float(v)) for i, v in enumerate([8, 9, 10, 11, 12, 100])]
    # degenerate group: 5 identical values + 1 outlier -> lower-median
    # dev is 0 -> MAD 0 -> nothing flagged (documented guard)
    rows += [(100 + i, "z", 5.0) for i in range(5)] + [(106, "z", 99.0)]
    ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    got = {r.event_id: r for r in mad_anomalies(ev).collect()}
    # group g: sorted 8,9,10,11,12,100 -> lower median 10; devs
    # 0,1,1,2,2,90 -> lower median (rank 3) = 1 -> flag dev > 3
    assert set(got) == {5}
    assert got[5].med == 10.0 and got[5].mad == 1.0 and got[5].dev == 90.0


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short doc embedded verbatim in a long one: containment 1.0,
    jaccard far below its threshold — the exact asymmetric case the
    operator exists for."""
    from lambda_lakehouse_spark.operators.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs,
    )

    short = "unique needle phrase xyz"
    long = ("totally different haystack content " * 5) + short
    docs = spark.createDataFrame(
        [(1, "s", short), (2, "s", long)],
        "doc_id long, source string, text string",
    )
    cont = ngram_containment_pairs(docs, threshold=0.9).collect()
    assert len(cont) == 1 and cont[0].doc_a == 1 and cont[0].doc_b == 2
    assert cont[0].containment == 1.0
    jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []  # jaccard never flags the subset pair


def test_grid_join_equals_bruteforce_crafted(spark):
    """Grid decomposition equals the naive quadratic join, including
    boundary deltas exactly at the tolerance."""
    import os

    from lambda_lakehouse_spark.registry import load_all

    rows = [
        (1, 10, 100.0), (2, 11, 101.5), (3, 12, 103.5),  # chain of neighbors
        (4, 10, 102.0),  # price delta exactly 2.0 from part 1 -> included
        (5, 20, 500.0),  # isolated
        (6, 9, 98.0),    # both deltas exactly at tolerance from part 1
    ]
    import tempfile
    with tempfile.TemporaryDirectory() as sf_dir:
        spark.createDataFrame(
            rows, "p_partkey long, p_size int, p_retailprice double"
        ).write.parquet(os.path.join(sf_dir, "part.parquet"))
        q = load_all()["grid_join_similar_parts"]
        got = sorted((r.p1, r.p2) for r in q.spark(spark, sf_dir).collect())
    want = sorted(
        (a, b)
        for i, (a, sa, ra) in enumerate(rows)
        for (b, sb, rb) in rows[i + 1:]
        if abs(sa - sb) <= 1 and abs(ra - rb) <= 2.0 and a < b
    )
    assert got == want and (1, 4) in got and (1, 6) in got


def test_branch_isolation_merge_and_conflict(spark, tmp_path):
    """Branch commits never move main; fast-forward merge publishes
    the branch head; a merge after main advanced raises (Nessie's
    conflict contract); discarding a branch frees its files for
    vacuum while an active branch's files survive it."""
    import pytest

    from lambda_lakehouse_spark.sources.snapshots import (
        CommitConflict, SnapshotTable,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i * 1.0) for i in range(10)],
        "id long, part string, v double",
    )
    t = SnapshotTable(spark, str(tmp_path / "tbl"), partition_by=["part"])
    t.create(df)

    br = t.create_branch("exp")
    br.delete_where(F.col("id") >= 5)
    # isolation both ways
    assert t.read().count() == 10
    assert br.read().count() == 5
    # zero-copy fork: branch v1 references main's files, no data write
    assert br.snapshots()[0]["operation"] == "branch_create"

    # active branch protects its files from vacuum
    assert t.vacuum() == []

    sid = t.merge_branch("exp")
    assert t.read().count() == 5
    assert t.snapshots()[-1]["operation"] == "merge_branch"
    assert sid == t.current_snapshot_id()
    assert t.branches() == []  # merged ref dropped

    # conflict: branch, then advance main, then merge -> refuse
    br2 = t.create_branch("late")
    t.append(df.where("id >= 5"))
    br2.delete_where(F.col("id") < 2)
    with pytest.raises(CommitConflict):
        t.merge_branch("late")
    # the conflicted branch stays active and readable
    assert "late" in t.branches()
    t.discard_branch("late")
    assert t.branches() == []


def test_tags_pin_snapshots_and_survive_expiry(spark, tmp_path):
    """Tags are immutable named pins: read_tag resolves the pinned
    snapshot, re-tagging raises, and expire_snapshots never drops a
    tagged manifest."""
    import pytest

    from lambda_lakehouse_spark.sources.snapshots import SnapshotTable

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(6)], "id long, part string"
    )
    t = SnapshotTable(spark, str(tmp_path / "tbl"), partition_by=["part"])
    t.create(df)                       # v1
    t.create_tag("cut-2026-08")        # pin v1
    t.append(df.withColumn("id", F.col("id") + 100))  # v2
    t.append(df.withColumn("id", F.col("id") + 200))  # v3

    assert t.read_tag("cut-2026-08").count() == 6
    with pytest.raises(Exception):
        t.create_tag("cut-2026-08")    # immutable

    expired = t.expire_snapshots(keep_last=1)
    assert 1 not in expired            # tagged v1 pinned
    assert 2 in expired                # untagged history expired
    assert t.read_tag("cut-2026-08").count() == 6  # still readable

    t.delete_tag("cut-2026-08")
    assert t.expire_snapshots(keep_last=1) == [1]


def test_wap_failed_audit_never_touches_main(spark, tmp_path):
    from lambda_lakehouse_spark.sources.snapshots import (
        SnapshotTable, write_audit_publish,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(8)],
        "id long, part string, v double",
    )
    t = SnapshotTable(spark, str(tmp_path / "tbl"), partition_by=["part"])
    t.create(df)
    before = t.current_snapshot_id()

    bad = spark.createDataFrame([(100, "a", -1.0)], "id long, part string, v double")
    r = write_audit_publish(t, bad, {"v_pos": F.col("v") >= 0}, branch="b1")
    assert r == {"published": None, "n_rows": 1, "n_bad": 1}
    assert t.current_snapshot_id() == before      # main untouched
    assert t.branches() == []                     # staging branch cleaned

    good = spark.createDataFrame([(101, "a", 5.0)], "id long, part string, v double")
    r = write_audit_publish(t, good, {"v_pos": F.col("v") >= 0}, branch="b1")
    # exactly ONE commit lands on main (the merge); the branch's own
    # commits live on the ref and die with it
    assert r["published"] == before + 1
    assert t.read().count() == 9
    assert t.branches() == []


def test_partition_evolution_prunes_conservatively(spark, tmp_path):
    """Old-spec files have no value for the evolved key: pruning must
    keep them (row filter decides); new-spec files prune exactly."""
    from lambda_lakehouse_spark.sources.snapshots import SnapshotTable

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(9)], "id long, grp int"
    )
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.create(df.where("id < 5"))                 # unpartitioned
    t.evolve_partitioning(["grp"])
    assert t.current_partition_spec() == ["grp"]
    t.append(df.where("id >= 5"))                # hive-partitioned

    pruned = t.read(where={"grp": 1})
    # every grp=1 row survives — including those in pre-evolution files
    got = sorted(r.id for r in pruned.where("grp = 1").collect())
    assert got == [1, 4, 7]
    # pruning did drop non-matching NEW-spec files: ids >= 5 with
    # grp != 1 never reach the scan
    assert sorted(r.id for r in pruned.collect() if r.id >= 5) == [7]

    # manifests record the spec per commit
    assert t.snapshots()[-2]["operation"] == "evolve_partitioning"


def test_simhash_banded_pairs_equal_bruteforce(spark):
    """Pigeonhole completeness: the 4-band blocking must find EXACTLY
    the pairs a brute-force all-pairs hamming scan finds at the <= 3
    threshold."""
    from pyspark.sql import functions as SF

    from lambda_lakehouse_spark.operators.dedup import (
        _simhash_expr, simhash_hamming_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 4} alpha beta gamma delta w{i % 7} z{i % 3}")
         for i in range(40)],
        "doc_id long, text string",
    )
    banded = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_hamming_pairs(docs).collect()
    }

    sigs = {
        r.doc_id: r.simhash
        for r in docs.select(
            "doc_id", SF.split(SF.col("text"), r"\s+").alias("toks")
        ).select("doc_id", SF.expr(_simhash_expr()).alias("simhash")).collect()
    }
    brute = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(x != y for x, y in zip(sigs[a], sigs[b]))
            if h <= 3:
                brute[(a, b)] = h
    assert banded == brute and brute  # non-vacuous


def test_pca_power_iteration_equals_quantized_model(spark):
    """Spark PCA kernel == pure-Python power iteration with the same
    decimal(28,6) product quantization and IEEE sqrt."""
    import math

    from lambda_lakehouse_spark.operators.similarity import pca_top_component

    vecs = {
        i: [((i * 7 + p * 3) % 11 - 5) / 5.0 for p in range(4)]
        for i in range(12)
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {r.pos: (r.loading, r.eigenvalue_est)
           for r in pca_top_component(emb, n_iter=2).collect()}

    q = lambda x: round(x, 6)  # decimal(28,6) quantize per product
    v = [0.125] * 4  # matches the operator's constant start vector
    norm = None
    for _ in range(2):
        s = {i: sum(q(x[p] * v[p]) for p in range(4)) for i, x in vecs.items()}
        w = [sum(q(vecs[i][p] * s[i]) for i in vecs) for p in range(4)]
        norm = math.sqrt(sum(q(x * x) for x in w))
        v = [x / norm for x in w]
    for p in range(4):
        assert math.isclose(got[p + 1][0], v[p], abs_tol=1e-4), (p, got[p + 1], v[p])
        assert math.isclose(got[p + 1][1], norm, abs_tol=1e-3)
    # unit vector up to quantization
    assert math.isclose(sum(x * x for x, _ in got.values()), 1.0, abs_tol=1e-4)


def test_prefix_filter_equals_bruteforce_and_prunes(spark):
    """AllPairs prefix filter: (a) the pair set EQUALS the uncapped
    inverted-index join's (completeness — unlike the DF cap, which
    certifies a subset); (b) the indexed prefix relation is a strict
    subset of the full exploded index (the pruning that bounds the
    self-join)."""
    from pyspark.sql import functions as F

    from lambda_lakehouse_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
    )
    from lambda_lakehouse_spark.sources.readers import read_table
    from tests.conftest import SF_DIR

    docs = read_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    )
    full = {
        (r.doc_a, r.doc_b, r.n_common, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(docs).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.n_common, round(r.jaccard, 12))
        for r in jaccard_prefix_filter_pairs(docs).collect()
    }
    assert pref == full and full  # identical, and non-trivially so

    # prefix index strictly smaller than the full index
    ex_n = docs.select(
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, greatest(length(text)-2, 1)),"
                " i -> substr(text, i, 3)))"
            )
        )
    ).count()
    # re-derive the prefix relation size via the operator's internals:
    # threshold 0.35 keeps ~65% of each doc's shingles
    from lambda_lakehouse_spark.operators.dedup import _JACCARD_THRESHOLD

    sh = docs.select(
        "doc_id",
        F.size(
            F.expr(
                "array_distinct(transform(sequence(1, greatest(length(text)-2, 1)),"
                " i -> substr(text, i, 3)))"
            )
        ).alias("n"),
    )
    prefix_n = sh.select(
        F.sum(
            F.col("n") - F.ceil(F.lit(_JACCARD_THRESHOLD) * F.col("n")) + 1
        )
    ).collect()[0][0]
    assert prefix_n < ex_n * 0.75  # at least ~threshold-fraction pruned


def test_rendezvous_minimal_movement(spark):
    """Removing one shard remaps ONLY the keys that shard owned —
    the property that distinguishes rendezvous routing from mod-N
    (where ~all keys move)."""
    from pyspark.sql import functions as F

    from lambda_lakehouse_spark.operators.corpus import rendezvous_route

    keys = spark.range(2000).select(F.col("id").alias("k"))
    with16 = {r.k: r.shard for r in rendezvous_route(keys, "k", 16).collect()}
    with15 = {r.k: r.shard for r in rendezvous_route(keys, "k", 15).collect()}
    moved = {k for k in with16 if with15[k] != with16[k]}
    # exactly the keys shard 15 owned move; everyone else stays put
    assert moved == {k for k, s in with16.items() if s == 15}
    # and shard 15 owned roughly 1/16 of the keys (binomial, wide margin)
    assert 2000 / 16 * 0.5 < len(moved) < 2000 / 16 * 2


def test_auc_exact_crafted(spark):
    """Known AUC values: perfect separation -> 1.0; all-ties -> 0.5;
    a hand-checkable mixed case."""
    from lambda_lakehouse_spark.operators.evalstats import auc_exact

    perfect = spark.createDataFrame(
        [(1.0, False), (2.0, False), (3.0, True), (4.0, True)],
        "s double, y boolean",
    )
    r = auc_exact(perfect, "s", "y").collect()[0]
    assert (r.n_pos, r.n_neg, r.auc) == (2, 2, 1.0)

    ties = spark.createDataFrame(
        [(5.0, True), (5.0, False)] * 10, "s double, y boolean"
    )
    assert auc_exact(ties, "s", "y").collect()[0].auc == 0.5

    # scores 1..4, positives at 2 and 4: pairs (pos>neg): (2>1), (4>1),
    # (4>3) = 3 of 4 -> AUC 0.75
    mixed = spark.createDataFrame(
        [(1.0, False), (2.0, True), (3.0, False), (4.0, True)],
        "s double, y boolean",
    )
    assert mixed and auc_exact(mixed, "s", "y").collect()[0].auc == 0.75


def test_paragraph_scrub_crafted(spark):
    """An exact late copy scrubs to empty; the original is untouched;
    every distinct window survives exactly once corpus-wide."""
    from lambda_lakehouse_spark.operators.corpus import (
        PARA_LEN,
        paragraph_scrub,
    )

    base = " ".join(f"w{i}" for i in range(PARA_LEN * 3))  # 3 windows
    other = " ".join(f"x{i}" for i in range(PARA_LEN * 2))  # 2 windows
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in paragraph_scrub(docs).collect()}
    assert got[1].n_kept == 3 and got[1].clean_text == base
    assert got[2].n_kept == 0 and got[2].clean_text == ""
    assert got[3].n_kept == 2 and got[3].clean_text == other
    assert sum(r.n_kept for r in got.values()) == 5  # distinct windows


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR invariant: documents written in the target subcorpus's
    vocabulary must outweigh documents written in the raw-only
    vocabulary (round-8 staged sample_dsir_hashed_ngrams)."""
    from lambda_lakehouse_spark.operators.corpus import (
        dsir_hashed_buckets,
        dsir_weights_from_features,
    )

    tgt_vocab = "alpha beta gamma delta"
    raw_vocab = "zeta eta theta iota"
    rows = (
        # target domain (sources src1/src2) speaks tgt_vocab
        [(i, "src1", tgt_vocab) for i in range(1, 6)]
        + [(i, "src2", tgt_vocab) for i in range(6, 11)]
        # raw pool: one target-like doc, many raw-vocab docs
        + [(100, "src9", tgt_vocab)]
        + [(200 + i, "src9", raw_vocab) for i in range(20)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    w = {
        r.doc_id: r.dsir_weight
        for r in dsir_weights_from_features(dsir_hashed_buckets(docs)).collect()
    }
    raw_ids = [200 + i for i in range(20)]
    assert w[100] > max(w[i] for i in raw_ids), w
    # and the target docs themselves score identically to the
    # target-like raw doc (same feature set)
    assert w[100] == w[1]


def test_dsir_target_shift_crafted_tv(spark, ducks):
    """TV distances in eval_dsir_target_shift are the textbook
    0.5*sum|p-q| — recompute from the same parquet with floats and
    compare within float tolerance."""
    import math

    from lambda_lakehouse_spark.registry import load_all
    from tests.conftest import SF_DIR

    q = load_all()["eval_dsir_target_shift"]
    row = q.spark(spark, SF_DIR).collect()[0]
    # recompute TV(raw, target) from the oracle's own bucket CTE
    m = ducks.execute(
        """
        WITH feat AS (
          SELECT DISTINCT doc_id, source,
                 ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b
          FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE text <> '') WHERE tok <> ''
        )
        SELECT b,
               COUNT(*) AS r_b,
               SUM(CASE WHEN source IN ('src1', 'src2') THEN 1 ELSE 0 END) AS t_b
        FROM feat GROUP BY b
        """
    ).fetchall()
    r_tot = sum(r for _, r, _ in m)
    t_tot = sum(t for _, _, t in m)
    tv = 0.5 * sum(abs(r / r_tot - t / t_tot) for _, r, t in m)
    assert math.isclose(row.tv_raw_target, tv, rel_tol=1e-12)
    assert row.r_tot == r_tot and row.t_tot == t_tot
    assert row.shift_gain == row.tv_raw_target - row.tv_selected_target


def test_incremental_replay_equals_full_selfjoin(spark):
    """The round-8 staged guarantee on crafted docs: K sequential
    band-index probes union to EXACTLY the one-shot LSH self-join,
    each pair found once, attributed to its later batch."""
    from lambda_lakehouse_spark.operators.dedup import (
        REPLAY_BATCHES,
        band_table,
        minhash_lsh_incremental,
        minhash_lsh_pairs,
    )
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + (" extra" * (i % 4))) for i in range(1, 31)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    full = {
        (r.doc_a, r.doc_b): (r.n_shared_bands, r.est_jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert full, "crafted corpus must produce near-dup pairs"

    bands = band_table(docs).withColumn(
        "batch", F.col("doc_id") % REPLAY_BATCHES
    )
    got = {}
    for k in range(REPLAY_BATCHES):
        part = minhash_lsh_incremental(
            bands.where(F.col("batch") < k).drop("batch"),
            bands.where(F.col("batch") == k).drop("batch"),
        ).collect()
        for r in part:
            key = (r.doc_a, r.doc_b)
            assert key not in got, f"pair {key} found twice"
            assert max(r.doc_a % REPLAY_BATCHES, r.doc_b % REPLAY_BATCHES) == k
            got[key] = (r.n_shared_bands, r.est_jaccard)
    assert got == full


def test_hard_negatives_crafted_margins(spark):
    """Crafted 2-D-like embeddings (padded): negatives must all carry a
    different label, the positive similarity must dominate every
    same-label score, and margins must order by negative hardness."""
    from lambda_lakehouse_spark.operators.similarity import cosine_topk

    def vec(x, y):
        return [float(x), float(y)] + [0.0] * 62

    rows = [
        (0, vec(1, 0), 1),        # query, label 1
        (10, vec(0.99, 0.1), 1),  # near positive
        (11, vec(0.7, 0.7), 1),   # far positive
        (20, vec(0.95, 0.3), 2),  # hard negative
        (21, vec(0.0, 1.0), 2),   # easy negative
        (22, vec(-1.0, 0.0), 3),  # opposite negative
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    qf = F.col("vec_id") < 1
    same = F.col("label") == F.col("q_label")
    negs = cosine_topk(emb, qf, k=3, pair_filter=~same).collect()
    got = [(r.neighbor_id, r.rk) for r in sorted(negs, key=lambda r: r.rk)]
    assert got == [(20, 1), (21, 2), (22, 3)]
    pos = cosine_topk(emb, qf, k=1, pair_filter=same).collect()
    assert [r.neighbor_id for r in pos] == [10]
    # margin ordering: the hard negative has the smallest margin
    pos_sim = pos[0].cos_sim
    margins = [pos_sim - r.cos_sim for r in sorted(negs, key=lambda r: r.rk)]
    assert margins[0] < margins[1] < margins[2]
    assert pos_sim > max(r.cos_sim for r in negs)


def test_bpe_compression_arithmetic_invariants(spark, ducks):
    """toks_after + merges_applied == toks_before per source, the ratio
    is exactly after/before, and the totals reconcile with an
    independent token count of the corpus."""
    from lambda_lakehouse_spark.registry import load_all
    from tests.conftest import SF_DIR

    q = load_all()["text_bpe_compression"]
    rows = q.spark(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.toks_after + r.merges_applied == r.toks_before
        assert r.compression_ratio == r.toks_after / r.toks_before
        assert 0 < r.compression_ratio <= 1.0
    total_before = sum(r.toks_before for r in rows)
    (independent,) = ducks.execute(
        "SELECT SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))"
        " FROM documents WHERE text <> ''"
    ).fetchone()
    assert total_before == independent


# ---------------------------------------------------------------------------
# Round-9 staged cohort property tests
# ---------------------------------------------------------------------------


def test_lm_surprisal_ranks_target_vocab(spark):
    """CCNet-style scoring must rank a target-vocabulary document as
    LESS surprising than an alien-vocabulary document, and OOV
    accounting must be exact on crafted inputs."""
    from lambda_lakehouse_spark.operators.corpus import lm_doc_scores

    tgt_vocab = "alpha beta gamma delta epsilon"
    alien = "qqxz wwvy kkjt ppmn rrho"
    rows = (
        [(i, "src1", tgt_vocab) for i in range(1, 6)]
        + [(i, "src2", tgt_vocab) for i in range(6, 11)]
        + [(100, "src9", tgt_vocab)]   # target-like raw doc
        + [(200, "src9", alien)]       # fully OOV doc
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    got = {r.doc_id: r for r in lm_doc_scores(docs).collect()}
    # identical text => identical score regardless of source
    assert got[100].avg_digits == got[1].avg_digits
    assert got[100].n_oov == 0
    # the alien doc is fully OOV and strictly more surprising
    assert got[200].n_oov == got[200].n_tokens == 5
    assert got[200].avg_digits > got[100].avg_digits
    # surprisal is digits: between 1 and digits(C+B) per token
    for r in got.values():
        assert 1 <= r.avg_digits <= 20


def test_ccnet_terciles_partition_exactly(spark):
    """The three terciles partition the scored corpus with sizes
    differing by at most one (exact NTILE semantics), and the
    per-bucket token arithmetic reconciles."""
    from lambda_lakehouse_spark.registry import load_all
    from tests.conftest import SF_DIR

    q = load_all()["quality_ccnet_terciles"]  # graduated at the r10 boundary
    rows = q.spark(spark, SF_DIR).collect()
    assert rows
    by_tercile = {}
    for r in rows:
        assert r.tercile in (1, 2, 3)
        by_tercile[r.tercile] = by_tercile.get(r.tercile, 0) + r.n_docs
        assert r.avg_digits == r.surprisal_tot / r.token_tot
    sizes = sorted(by_tercile.values())
    assert len(sizes) == 3 and sizes[-1] - sizes[0] <= 1
    from lambda_lakehouse_spark.registry import load_all as _la

    per_doc = _la()["quality_lm_surprisal"].spark(spark, SF_DIR)
    assert sum(by_tercile.values()) == per_doc.count()


def test_cluster_balanced_quota_and_contiguity(spark):
    """Every cell yields at most the quota; cells smaller than the
    quota are fully selected; within-cell ranks are contiguous from 1."""
    from lambda_lakehouse_spark.operators.semantic import (
        CLUSTER_QUOTA,
        _cb_selected,
    )
    from lambda_lakehouse_spark.operators.similarity import (
        _assign_cells,
        _flat,
        train_ivf_cells,
    )
    from lambda_lakehouse_spark.sources.readers import read_table
    from tests.conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    flat = _flat(emb).select("vec_id", "pos", "val")
    cells = (
        _assign_cells(flat, train_ivf_cells(emb))
        .where(F.col("rk") == 1)
        .select("vec_id", "cell")
    )
    n_by_cell = {r.cell: r.n for r in cells.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    sel = _cb_selected(emb).collect()
    ranks_by_cell: dict = {}
    for r in sel:
        ranks_by_cell.setdefault(r.cell, []).append(r.cell_rank)
    for cell, ranks in ranks_by_cell.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) == min(CLUSTER_QUOTA, n_by_cell[cell])


def test_cluster_balance_audit_invariants(spark):
    """ESS <= N always (Cauchy-Schwarz), selection totals reconcile
    with the per-cell quota, and coverage equals the cell count."""
    from lambda_lakehouse_spark.operators.semantic import (
        CLUSTER_QUOTA,
        _cb_selected,
    )
    from lambda_lakehouse_spark.registry import load_all
    from tests.conftest import SF_DIR

    row = load_all()["eval_cluster_balance_audit"].spark(  # graduated r10
        spark, SF_DIR
    ).collect()[0]
    assert row.k_selected == _cb_selected_count(spark, SF_DIR)
    assert row.cells_covered == row.n_cells
    assert 0 < row.ess_balanced <= row.n_total * (1 + 1e-9)
    assert 1 <= row.min_cell_selected <= row.max_cell_selected <= CLUSTER_QUOTA


def _cb_selected_count(spark, sf_dir):
    from lambda_lakehouse_spark.operators.semantic import _cb_selected
    from lambda_lakehouse_spark.sources.readers import read_table

    return _cb_selected(read_table(spark, sf_dir, "embeddings")).count()


def test_contamination_identical_and_disjoint_sources(spark):
    """Two sources with identical text must show containment 1.0 both
    ways and Jaccard 1.0; a vocabulary-disjoint source pair emits no
    matrix row (zero-overlap pairs are absent by construction)."""
    from lambda_lakehouse_spark.operators.text import source_contamination

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "zxqwv jklmp aaabbbccc dddeeefff ggghhhiii jjjkkklll mmmnnnooo"
    docs = spark.createDataFrame(
        [(1, "sA", t1), (2, "sB", t1), (3, "sC", t2)],
        "doc_id long, source string, text string",
    )
    rows = {(r.src_a, r.src_b): r for r in source_contamination(docs).collect()}
    ab = rows[("sA", "sB")]
    assert ab.contain_a_in_b == 1.0 and ab.contain_b_in_a == 1.0
    assert ab.jaccard == 1.0 and ab.n_a == ab.n_b == ab.n_shared
    assert ("sA", "sC") not in rows and ("sB", "sC") not in rows
