"""Operator-level unit tests: SCD2 invariants (FIXTURES.md §3),
crc32 surrogate-key parity vs zlib, as-of join edge semantics,
schema alignment."""

from __future__ import annotations

import datetime as dt
import zlib

import pytest
from pyspark.sql import functions as F

from lambda_lakehouse_spark.functions.scalar import sk_crc32
from lambda_lakehouse_spark.operators.align import align_to_contract, union_by_name
from lambda_lakehouse_spark.operators.scd2 import build_scd2
from lambda_lakehouse_spark.operators.temporal import as_of_join, pit_join


def _snapshots(spark):
    rows = [
        # entity A: attr change on day 3, again day 5
        ("A", dt.date(2024, 1, 1), "x"),
        ("A", dt.date(2024, 1, 2), "x"),
        ("A", dt.date(2024, 1, 3), "y"),
        ("A", dt.date(2024, 1, 4), "y"),
        ("A", dt.date(2024, 1, 5), "x"),
        # entity B: never changes
        ("B", dt.date(2024, 1, 1), "z"),
        ("B", dt.date(2024, 1, 4), "z"),
    ]
    return spark.createDataFrame(rows, "sym string, d date, attr string")


def test_scd2_version_intervals(spark):
    dim = build_scd2(_snapshots(spark), ["sym"], ["attr"], "d").collect()
    by_key = {}
    for r in dim:
        by_key.setdefault(r.sym, []).append(r)
    for rs in by_key.values():
        rs.sort(key=lambda r: r.effective_from)

    a = by_key["A"]
    assert [r.attr for r in a] == ["x", "y", "x"]
    assert [r.version for r in a] == [1, 2, 3]
    assert a[0].effective_from == dt.date(2024, 1, 1)
    # reference G3 closed-boundary parity: effective_to == next from
    assert a[0].effective_to == dt.date(2024, 1, 3)
    assert a[1].effective_to == dt.date(2024, 1, 5)
    assert a[2].effective_to == dt.date(9999, 12, 31)

    # invariants: exactly one open/current version per entity
    for rs in by_key.values():
        assert sum(r.is_current for r in rs) == 1
        assert rs[-1].effective_to == dt.date(9999, 12, 31)

    assert len(by_key["B"]) == 1


def test_scd2_open_interval_mode(spark):
    dim = build_scd2(
        _snapshots(spark), ["sym"], ["attr"], "d", closed_boundaries=False
    ).collect()
    a = sorted([r for r in dim if r.sym == "A"], key=lambda r: r.version)
    # closed=False: effective_to = day before next version starts
    assert a[0].effective_to == dt.date(2024, 1, 2)
    assert a[1].effective_to == dt.date(2024, 1, 4)


def test_pit_boundary_fanout(spark):
    dim = build_scd2(_snapshots(spark), ["sym"], ["attr"], "d")
    facts = spark.createDataFrame(
        [("A", dt.date(2024, 1, 3), 1.0)], "sym string, d date, v double"
    )
    out = pit_join(facts, dim, ["sym"], "d").collect()
    # G3: a fact on the version boundary matches both adjacent versions
    assert len(out) == 2
    assert sorted(r.version for r in out) == [1, 2]


def test_crc32_sk_matches_zlib(spark):
    df = spark.createDataFrame([("ACME", "VN")], "name string, country string")
    got = df.select(sk_crc32("name", "country").alias("sk")).first().sk
    assert got == zlib.crc32(b"ACME||VN")


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [("k", 5, "e1"), ("k", 10, "e2"), ("k", 1, "e0"), ("j", 7, "e3")],
        "key string, t int, id string",
    )
    right = spark.createDataFrame(
        [("k", 2, 20.0), ("k", 10, 100.0)], "key string, rt int, score double"
    )
    out = {
        r.id: r.score
        for r in as_of_join(left, right, ["key"], "t", "rt", ["score"]).collect()
    }
    assert out["e0"] is None  # before first right row
    assert out["e1"] == 20.0  # nearest previous
    assert out["e2"] == 100.0  # equal time matches
    assert out["e3"] is None  # key with no right rows


def test_asof_join_attaches_whole_row_not_per_column(spark):
    """The latest right row wins ATOMICALLY: when it holds a NULL in
    one value column, that NULL is attached — values from an older
    right row must never be mixed in per-column."""
    left = spark.createDataFrame([("k", 5, "e1")], "key string, t int, id string")
    right = spark.createDataFrame(
        [("k", 1, 5.0, 9.0), ("k", 2, 7.0, None)],
        "key string, rt int, a double, b double",
    )
    out = as_of_join(left, right, ["key"], "t", "rt", ["a", "b"]).collect()[0]
    assert out.a == 7.0 and out.b is None  # row at rt=2, not a blend


def test_asof_join_deterministic_on_right_time_ties(spark):
    """Two right rows tied on (key, right_time): the attached value must
    be the same on every evaluation (greatest xxhash64 of the value
    columns — arbitrary but stable), not partition-order-dependent."""
    left = spark.createDataFrame([("k", 5, "e1")], "key string, t int, id string")
    right = spark.createDataFrame(
        [("k", 2, 20.0), ("k", 2, 30.0)], "key string, rt int, score double"
    )
    picks = set()
    for _ in range(3):
        # vary physical layout to try to flip a nondeterministic pick
        for r in (right, right.repartition(7), right.coalesce(1)):
            out = as_of_join(left, r, ["key"], "t", "rt", ["score"]).collect()
            picks.add(out[0].score)
    assert len(picks) == 1


def test_simhash_missing_reference_doc_raises(spark):
    from lambda_lakehouse_spark.operators.dedup import simhash_hamming

    docs = spark.createDataFrame(
        [(7, "some text here"), (8, "other text")], "doc_id long, text string"
    )
    out = simhash_hamming(docs, ref_doc_id=7)
    assert {r.doc_id: r.hamming_to_ref for r in out.collect()}[7] == 0
    with pytest.raises(ValueError, match="reference doc_id=99"):
        simhash_hamming(docs, ref_doc_id=99)


def test_minhash_lsh_hot_bucket_cap_subset(spark):
    """Capped candidate pairs are a subset of uncapped; a corpus-wide
    boilerplate bucket is dropped under the cap instead of going
    quadratic."""
    from lambda_lakehouse_spark.operators.dedup import minhash_lsh_pairs

    boiler = "LICENSE HEADER COMMON TO EVERY FILE IN THE CORPUS "
    docs = spark.createDataFrame(
        [(i, boiler + f"unique tail {i} " + "x" * (i % 5)) for i in range(20)]
        + [(100, boiler + "unique tail 3 "), (101, "entirely different document")],
        "doc_id long, text string",
    )
    uncapped = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, max_bucket_size=5).collect()
    }
    assert capped <= uncapped
    assert len(capped) < len(uncapped)  # the boilerplate bucket was dropped
    tiny = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, max_bucket_size=1).collect()
    }
    assert tiny == set()  # every bucket with a pair has >= 2 docs


def test_ngram_jaccard_stop_shingle_cap_subset(spark):
    """Capped ngram-jaccard pairs are a subset of uncapped, with
    jaccard a lower bound: the DF cap drops boilerplate shingles from
    the intersection only, while set sizes (the denominator) stay
    full-universe — so capping can shrink but never inflate a pair's
    score, and never invent a pair."""
    from lambda_lakehouse_spark.operators.dedup import ngram_jaccard_pairs

    import hashlib

    # boilerplate in every doc → its shingles have DF 12 > cap. Sized
    # comparable to the body so boilerplate-driven CROSS-pair overlap
    # clears the threshold uncapped (B/(B+2T) ≈ 0.33) but not capped.
    boiler = (hashlib.md5(b"boilerplate").hexdigest() * 4) + " "
    # each doc pair (2i, 2i+1) shares a distinctive body (md5 text →
    # essentially no shingle overlap across pairs; DF 2 — kept)
    body = lambda i: hashlib.md5(f"pair:{i}".encode()).hexdigest() * 4  # noqa: E731
    docs = spark.createDataFrame(
        [(2 * i + j, "web", boiler + body(i)) for i in range(6) for j in (0, 1)],
        "doc_id long, source string, text string",
    )
    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.2, max_doc_freq=10).collect()
    }
    assert set(capped) <= set(uncapped)
    # boilerplate-only cross-pair links fall below threshold once the
    # header shingles stop counting toward the intersection
    assert len(capped) < len(uncapped)
    assert all(capped[k] <= uncapped[k] + 1e-12 for k in capped)
    # pairs sharing a long distinctive body survive the cap
    assert all((2 * i, 2 * i + 1) in capped for i in range(6))


def test_minhash_incremental_equals_full_restricted_to_new(spark):
    """Incremental dedup (new docs probe the stored band index) must
    find exactly the full self-join's pairs that touch a new doc — and
    never corpus×corpus pairs, which is the point at 100 TB."""
    from lambda_lakehouse_spark.operators.dedup import (
        band_table,
        minhash_lsh_incremental,
        minhash_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = [
        (1, base + "corpus one"),
        (2, base + "corpus one"),        # corpus×corpus dup (must NOT appear)
        (3, base + "shared with new"),
        (10, base + "shared with new"),  # corpus×new dup
        (11, base + "new twin"),
        (12, base + "new twin"),         # new×new dup
        (13, "completely unrelated text with nothing in common xyzzy"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    corpus = df.where(F.col("doc_id") < 10)
    new = df.where(F.col("doc_id") >= 10)

    inc = {
        (r.doc_a, r.doc_b, r.n_shared_bands, r.est_jaccard)
        for r in minhash_lsh_incremental(
            band_table(corpus), band_table(new)
        ).collect()
    }
    full = {
        (r.doc_a, r.doc_b, r.n_shared_bands, r.est_jaccard)
        for r in minhash_lsh_pairs(df).collect()
    }
    new_ids = {10, 11, 12, 13}
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    assert inc == expected
    assert (1, 2) not in {(a, b) for a, b, *_ in inc}  # no corpus×corpus
    assert {(a, b) for a, b, *_ in inc} >= {(3, 10), (11, 12)}


def test_align_contract_types_and_order(spark):
    df = spark.createDataFrame([(1, "a", 2.5)], "B int, a string, x double")
    contract = [("a", "string"), ("b", "bigint"), ("c", "date")]
    out = align_to_contract(df, contract)
    assert out.columns == ["a", "b", "c"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string", "bigint", "date",
    ]
    row = out.first()
    assert row.a == "a" and row.b == 1 and row.c is None


def test_align_contract_quotes_column_names(spark):
    """The contract projection is SQL text: names with a space or a
    backtick are quoted, on the source and the output side."""
    df = spark.createDataFrame([("v", 3)], "`we``ird` string, `a b` int")
    out = align_to_contract(df, [("a b", "bigint"), ("we`ird", "string"), ("n`", "int")])
    assert out.columns == ["a b", "we`ird", "n`"]
    assert tuple(out.first()) == (3, "v", None)


def test_union_by_name_missing_columns(spark):
    d1 = spark.createDataFrame([(1, "x")], "id int, a string")
    d2 = spark.createDataFrame([(2, 9.9)], "id int, b double")
    out = union_by_name([d1, d2]).orderBy("id").collect()
    assert out[0].a == "x" and out[0].b is None
    assert out[1].a is None and out[1].b == 9.9


def test_clean_cast_edge_values(spark):
    from lambda_lakehouse_spark.functions.scalar import as_double_clean, as_long_clean

    df = spark.createDataFrame(
        [("12,500,000", "9007199254740993", "1.5", "Not found")],
        ["grouped", "big", "dec", "nf"],
    )
    row = df.select(
        as_double_clean("grouped").alias("d"),
        as_long_clean("big").alias("b"),
        as_long_clean("dec").alias("dc"),
        as_long_clean("nf").alias("nf"),
    ).collect()[0]
    assert row.d == 12_500_000.0
    # exact above 2^53: must NOT round-trip through double
    assert row.b == 9007199254740993
    assert row.dc == 1  # decimal string truncates via the double route
    assert row.nf is None  # placeholder → NULL, not an ANSI cast error


def test_stg_vn_large_price_not_recleaned(spark):
    """Regression: current_price must derive from the RAW ref_price —
    re-cleaning an already-cleaned double strips the scientific-notation
    'E' (1.25E7 → '1.257') and corrupts large prices."""
    from lambda_lakehouse_spark.plans.stock_pipeline import stg_vn

    cols = [
        "symbol", "company_name", "industry", "website", "no_employees",
        "ref_price", "prior_close_price", "ceiling", "floor",
        "foreign_percent", "delta_in_week", "delta_in_month",
        "delta_in_year", "average_match_volume2_week", "outstanding_share",
        "issue_share", "exchange_overview", "exchange_price",
        "trading_status", "trading_status_code", "trading_status_group",
    ]
    schema = ", ".join(
        f"{c} double" if c == "outstanding_share" else f"{c} string"
        for c in cols
    )
    raw = spark.createDataFrame(
        [("VNM", "Co", "Dairy", "w", "10", "12,500,000", "12,400,000",
          "13,000,000", "11,000,000", "0.1", "0", "0", "0", "100",
          1.0, "100", "HOSE", None, "Active", "ACT", "NORMAL")],
        schema,
    )
    row = stg_vn(raw, "2025-10-24").collect()[0]
    assert row.current_price == 12_500_000.0
    assert row.ref_price == 12_500_000.0
    assert row.previous_close == 12_400_000.0


def test_pii_redaction_behavior(spark):
    """Redaction behavior on crafted PII (the synthetic corpus has
    none): every pattern kind replaces with its typed placeholder,
    counts are per-kind, clean docs pass through byte-identical."""
    from lambda_lakehouse_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@ex-ample.co.uk or 10.0.255.7 now"),
            (2, "ssn 123-45-6789 and phone 555.867.5309 appear"),
            (3, "two mails a@b.io c@d.org one ip 1.2.3.4"),
            (4, "clean document with no identifiers at all"),
            (5, "digits-but-not-pii 12345 1-2 999-99 3.14159"),
            # phone-shaped string INSIDE an email: consumed by <EMAIL>,
            # so it must NOT also count as a phone (counts are taken on
            # the progressively-redacted text)
            (6, "mail me at 555.867.5309@corp.example.com today"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert out[1].clean_text == "contact <EMAIL> or <IP> now"
    assert (out[1].n_email, out[1].n_ip) == (1, 1) and out[1].was_redacted
    assert out[2].clean_text == "ssn <ID> and phone <PHONE> appear"
    assert (out[2].n_id, out[2].n_phone) == (1, 1)
    assert out[3].clean_text == "two mails <EMAIL> <EMAIL> one ip <IP>"
    assert out[3].n_email == 2
    for clean_doc in (4, 5):
        r = out[clean_doc]
        assert not r.was_redacted and r.clean_text == r.text
    # overlap: the email consumed the phone-shaped local part
    assert out[6].clean_text == "mail me at <EMAIL> today"
    assert (out[6].n_email, out[6].n_phone) == (1, 0)


def test_lsh_verified_subset_of_exact_with_exact_scores(spark):
    """Candidate→verify pipeline: its output must be a subset of exact
    all-pairs ground truth with IDENTICAL jaccard values (verification
    uses exact arithmetic — estimation error cannot leak into
    survivors). On this fixture banding misses nothing, so the sets are
    equal."""
    from lambda_lakehouse_spark.operators.dedup import (
        exact_jaccard_pairs,
        minhash_lsh_verified_pairs,
    )
    from lambda_lakehouse_spark.sources.readers import read_table
    from tests.conftest import SF_DIR

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard for r in exact_jaccard_pairs(docs).collect()
    }
    verified = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_verified_pairs(docs).collect()
    }
    assert set(verified) <= set(exact)
    assert all(abs(verified[k] - exact[k]) < 1e-12 for k in verified)
    # recall-1.0 regime on this corpus (dedup_lsh_eval measures fn=0)
    assert set(verified) == set(exact)


def test_lsh_eval_slice_agrees_with_full(spark):
    """The registered dedup_lsh_eval audits a deterministic md5 doc
    slice (round-10 plan change). Membership in both audited relations
    is pair-local — exact jaccard depends only on the two shingle
    sets, LSH banding only on the two signatures — so the slice
    confusion matrix must EQUAL the full-corpus matrix restricted to
    slice-internal pairs: exact within the slice, not a sampled
    approximation. This pins that theorem against the implementation
    (a corpus-dependent candidate step on either side would break it
    loudly here)."""
    from lambda_lakehouse_spark.operators.dedup import (
        _EVAL_SLICE_HEX,
        _EVAL_SLICE_SEED,
        _EVAL_THRESHOLD,
        _eval_slice,
        exact_jaccard_pairs,
        lsh_eval_confusion,
        minhash_lsh_pairs,
    )
    from lambda_lakehouse_spark.sources.readers import read_table
    from tests.conftest import SF_DIR

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    sliced_ids = {r.doc_id for r in _eval_slice(docs).select("doc_id").collect()}
    # the slice selects a real subset (predicate neither empty nor all)
    n_docs = docs.count()
    assert 0 < len(sliced_ids) < n_docs
    # python replay of the predicate: same md5, same hex-digit gate
    import hashlib

    expect_ids = {
        r.doc_id
        for r in docs.select("doc_id").collect()
        if hashlib.md5(
            f"{_EVAL_SLICE_SEED}{r.doc_id}".encode()
        ).hexdigest()[0] in _EVAL_SLICE_HEX
    }
    assert sliced_ids == expect_ids

    # full-corpus relations restricted to slice-internal pairs
    full_lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs)
        .where(F.col("est_jaccard") >= _EVAL_THRESHOLD)
        .collect()
        if r.doc_a in sliced_ids and r.doc_b in sliced_ids
    }
    full_exact = {
        (r.doc_a, r.doc_b)
        for r in exact_jaccard_pairs(docs).collect()
        if r.doc_a in sliced_ids and r.doc_b in sliced_ids
    }
    row = lsh_eval_confusion(docs, sliced=True).collect()[0]
    assert row.tp == len(full_lsh & full_exact)
    assert row.fp == len(full_lsh - full_exact)
    assert row.fn == len(full_exact - full_lsh)


def test_repetition_scores_crafted(spark):
    from lambda_lakehouse_spark.operators.text import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # fully repeated
            (2, "w x y z"),          # fully distinct
            (3, "a b a b a"),        # alternating: all bigrams repeat after 2
            (4, "solo"),             # single word: no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_scores(docs).collect()}

    r1 = rows[1]
    assert r1.n_words == 4
    assert r1.distinct_word_ratio == 0.25
    assert r1.dup_bigram_frac == 1.0 - 1.0 / 3  # one distinct of 3 bigrams
    assert r1.top_word_share == 1.0

    r2 = rows[2]
    assert r2.distinct_word_ratio == 1.0
    assert r2.dup_bigram_frac == 0.0
    assert r2.top_word_share == 0.25

    r3 = rows[3]
    assert r3.n_words == 5
    # bigrams: "a b","b a","a b","b a" -> 2 distinct of 4
    assert r3.dup_bigram_frac == 0.5
    assert r3.top_word_share == 3.0 / 5

    r4 = rows[4]
    assert r4.n_words == 1
    assert r4.dup_bigram_frac == 0.0  # guarded: no sequence(1, 0)
    assert r4.top_word_share == 1.0


def test_gap_fill_leading_gap_stays_null(spark):
    """Before the first observation, LOCF has nothing to carry:
    filled_value and days_since_obs must be NULL, not zero."""
    from lambda_lakehouse_spark.registry import load_all
    from tests.conftest import SF_DIR

    out = load_all()["timeseries_gap_fill"].spark(spark, SF_DIR)
    rows = [r for r in out.collect()]
    by_key: dict[tuple, list] = {}
    for r in rows:
        by_key.setdefault((r.event_type, r.bucket), []).append(r)
    saw_leading_gap = False
    for series in by_key.values():
        series.sort(key=lambda r: r.day)
        seen_obs = False
        for r in series:
            if r.is_observed:
                seen_obs = True
                assert r.filled_value == r.obs_value
                assert r.days_since_obs == 0
            elif not seen_obs:
                saw_leading_gap = True
                assert r.filled_value is None and r.days_since_obs is None
            else:
                assert r.filled_value is not None
                assert r.days_since_obs > 0
    # the sf0.001 fixture is sparse enough to exercise the branch
    assert saw_leading_gap


def test_dq_expectations_partition(spark):
    """Row-level behavior of the DQ gate: failed_rules lists exactly
    the violated rule names (sorted), NULL verdicts quarantine, clean
    rows pass."""
    from pyspark.sql import functions as F

    from lambda_lakehouse_spark.operators.dq import with_expectations

    df = spark.createDataFrame(
        [
            (1, 10.0, "A"),      # clean
            (2, -5.0, "A"),      # fails positive
            (3, 10.0, "X"),      # fails known_code
            (4, None, "X"),      # NULL verdict + bad code -> both fail
        ],
        "id long, amount double, code string",
    )
    rules = {
        "positive": F.col("amount") > 0,
        "known_code": F.col("code").isin("A", "B"),
    }
    rows = {r.id: r for r in with_expectations(df, rules).collect()}
    assert rows[1].dq_pass and rows[1].failed_rules == []
    assert rows[2].failed_rules == ["positive"]
    assert rows[3].failed_rules == ["known_code"]
    assert rows[4].failed_rules == ["known_code", "positive"]  # NULL counts
    assert not rows[4].dq_pass


def test_interval_join_matches_naive_band_join(spark):
    """Bucketed band join == naive non-equi join, including exact
    tolerance-boundary and bucket-edge pairs."""
    import datetime as dt

    from lambda_lakehouse_spark.operators.temporal import interval_join

    base = dt.datetime(2024, 1, 1)
    tol = 60  # seconds

    def ts(s):
        return base + dt.timedelta(seconds=s)

    # offsets engineered to sit on bucket edges (60s buckets) and on
    # the exact tolerance boundary
    left = spark.createDataFrame(
        [(1, 100, ts(0)), (1, 101, ts(59)), (1, 102, ts(120)), (2, 103, ts(0))],
        "k long, lid long, lts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, 200, ts(60)),    # 60s from lid=100 -> exactly tol: match
            (1, 201, ts(61)),    # 61s from lid=100 -> no; 2s from 101 -> yes
            (1, 202, ts(181)),   # 61s from lid=102 -> no match
            (2, 203, ts(59)),    # within tol of 103, different key than k=1
            (3, 204, ts(0)),     # key with no left rows
        ],
        "k long, rid long, rts timestamp",
    )
    got = {
        (r.k, r.lid, r.rid, r.delta_us)
        for r in interval_join(
            left, right, keys=("k",), left_ts="lts", right_ts="rts", tolerance_s=tol
        ).collect()
    }
    naive = {
        (r.k, r.lid, r.rid, r.delta_us)
        for r in left.join(right, "k")
        .where(F.abs(F.unix_micros("rts") - F.unix_micros("lts")) <= tol * 1_000_000)
        .withColumn("delta_us", F.unix_micros("rts") - F.unix_micros("lts"))
        .collect()
    }
    assert got == naive
    assert (1, 100, 200, 60_000_000) in got      # exact boundary kept
    assert (1, 101, 201, 2_000_000) in got       # cross-bucket neighbor
    assert not any(r[0] == 3 for r in got)


def test_dq_rejects_non_identifier_rule_names(spark):
    import pytest as _pytest

    from lambda_lakehouse_spark.operators.dq import (
        expectation_metrics,
        with_expectations,
    )

    df = spark.createDataFrame([(1,)], "id long")
    bad = {"has space": F.col("id") > 0}
    with _pytest.raises(ValueError, match="rule names"):
        with_expectations(df, bad)
    with _pytest.raises(ValueError, match="rule names"):
        expectation_metrics(df, bad)


def test_interval_join_rejects_nonpositive_tolerance(spark):
    import pytest as _pytest

    from lambda_lakehouse_spark.operators.temporal import interval_join

    df = spark.createDataFrame([(1, None)], "k long, t timestamp")
    with _pytest.raises(ValueError, match="tolerance"):
        interval_join(df, df, keys=("k",), left_ts="t", right_ts="t", tolerance_s=0)


def test_gap_islands_crafted_streaks(spark):
    """Streak grouping and the (length DESC, start ASC) tie-break on
    crafted calendars: month-boundary continuity, equal-length ties."""
    import datetime as dt

    from lambda_lakehouse_spark.registry import load_all

    d = dt.date

    rows = []
    # user 1: 3-day streak spanning a month boundary + later 2-day
    for day in (d(2024, 1, 30), d(2024, 1, 31), d(2024, 2, 1),
                d(2024, 2, 10), d(2024, 2, 11)):
        rows.append((1, dt.datetime.combine(day, dt.time(12))))
    # user 2: two 2-day streaks -> tie broken by earliest start
    for day in (d(2024, 3, 1), d(2024, 3, 2), d(2024, 3, 10), d(2024, 3, 11)):
        rows.append((2, dt.datetime.combine(day, dt.time(8))))
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")

    # run the same logic as the registry query over the crafted frame
    from pyspark.sql import Window as W

    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    anchored = activity.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    runs = anchored.groupBy("user_id", "anchor").agg(
        F.min("day").alias("streak_start"), F.count(F.lit(1)).alias("streak_len")
    )
    best = runs.withColumn(
        "rk", F.row_number().over(
            W.partitionBy("user_id").orderBy(
                F.col("streak_len").desc(), F.col("streak_start"))
        )
    ).where(F.col("rk") == 1)
    got = {(r.user_id): (r.streak_start, r.streak_len) for r in best.collect()}
    assert got[1] == (d(2024, 1, 30), 3)   # crosses Jan->Feb
    assert got[2] == (d(2024, 3, 1), 2)    # tie -> earliest start


def test_bm25_crafted_ranking(spark):
    """Pin BM25 semantics on a crafted corpus against an independent
    pure-Python computation (log-free RSJ odds idf, exact per-term
    decimal rounding mirrored with round())."""
    import math

    from lambda_lakehouse_spark.operators.search import bm25_topk

    corpus = {
        1: "apple banana apple cherry",
        2: "apple apple apple apple apple apple",
        3: "banana cherry durian elder fig grape",
        4: "cherry cherry banana apple durian durian",
        5: "elder fig grape hazel iris juniper kiwi lemon",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()], "doc_id long, text string"
    )
    qterms = spark.createDataFrame(
        [(0, "apple"), (0, "banana")], "query_id int, word string"
    )
    got = {
        r.rank: (r.doc_id, r.score)
        for r in bm25_topk(docs, qterms, k=5).collect()
    }

    # independent model
    tok = {i: t.split(" ") for i, t in corpus.items()}
    n, avgdl = len(tok), sum(len(w) for w in tok.values()) / len(tok)
    dfreq = {
        w: sum(1 for ws in tok.values() if w in ws)
        for w in {"apple", "banana"}
    }
    k1, b = 1.5, 0.75
    exp = {}
    for i, ws in tok.items():
        s = 0.0
        for w in ("apple", "banana"):
            tf = ws.count(w)
            if not tf:
                continue
            idf = (n - dfreq[w] + 0.5) / (dfreq[w] + 0.5)
            tfn = tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * len(ws) / avgdl))
            s += round(idf * tfn, 6)  # decimal(28,6) per-term quantize
        if s:
            exp[i] = round(s, 6)
    want = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [got[r][0] for r in sorted(got)] == [i for i, _ in want]
    for r, (doc, score) in got.items():
        assert math.isclose(score, dict(want)[doc], abs_tol=2e-6)


def test_bm25_topk_caps_per_query(spark):
    from lambda_lakehouse_spark.operators.search import (
        bm25_topk, corpus_query_terms,
    )
    from tests.conftest import SF_DIR
    from lambda_lakehouse_spark.sources.readers import read_table

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out = bm25_topk(docs, corpus_query_terms(docs), k=3)
    per_q = {r.query_id: r for r in out.groupBy("query_id").count().collect()}
    assert per_q and all(r["count"] <= 3 for r in per_q.values())
    # ranks are dense 1..k within each query
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, rks in by_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))


def test_phrase_search_given_phrase_matches_the_mined_one(spark):
    """An explicit phrase (a one-row local probe) finds what the
    self-mined probe finds when both name the corpus's top bigram."""
    from collections import Counter

    from lambda_lakehouse_spark.operators.search import phrase_search
    from lambda_lakehouse_spark.sources.readers import read_table
    from tests.conftest import SF_DIR

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    pairs = Counter(
        p for r in docs.collect() for ws in [r.text.split(" ")] for p in zip(ws, ws[1:])
    )
    (w1, w2), _ = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
    given = phrase_search(docs, w1, w2).collect()
    assert given and sorted(given) == sorted(phrase_search(docs).collect())


def test_grouped_prefix_sum_rank_equals_window(spark):
    """grouped_prefix_sum_rank == the one-task-per-key window form,
    with AQE coalescing disabled so the range stage genuinely splits
    each key's history across partitions (the decomposition under
    test)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from lambda_lakehouse_spark.operators.ranking import (
        grouped_prefix_sum_rank,
    )

    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        df = spark.range(20000).select(
            F.col("id"),
            (F.col("id") % 3).cast("string").alias("k"),  # 3 hot keys
            ((F.col("id") * 17) % 1000).cast("decimal(28,6)").alias("v"),
        )
        w = W.partitionBy("k").orderBy("id")
        naive = df.withColumn(
            "s",
            F.sum("v").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        ).withColumn("p", F.row_number().over(w).cast("bigint"))
        got = grouped_prefix_sum_rank(
            df, keys=["k"], order=["id"], value=F.col("v"),
            sum_col="s", pos_col="p",
        )
        a = [(r.id, r.s, r.p) for r in naive.orderBy("id").collect()]
        b = [(r.id, r.s, r.p) for r in got.orderBy("id").collect()]
        assert a == b
        # full cardinality preserved by the decomposition
        assert got.select("p").count() == 20000
        # and the plan really range-splits (k, order) instead of
        # hash-partitioning whole keys to single tasks
        plan = got._jdf.queryExecution().executedPlan().toString().lower()
        assert "rangepartitioning" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)


def test_triangle_stats_crafted_and_naive(spark):
    """triangle_stats == hand-countable truths on crafted graphs, and
    == a naive all-triple enumeration on a pseudo-random graph (the
    degree-oriented join must count every triangle exactly once)."""
    from itertools import combinations

    from lambda_lakehouse_spark.operators.graph import triangle_stats

    # K4 plus a pendant vertex: C(4,3)=4 triangles; wedges =
    # 3*C(3,2) + C(4,2)... compute from degrees: degs 3,3,3,4,1
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    row = triangle_stats(
        spark.createDataFrame(k4, "c1 int, c2 int")
    ).collect()[0]
    assert row.n_vertices == 5 and row.n_edges == 7
    assert row.n_triangles == 4
    degs = {1: 3, 2: 3, 3: 3, 4: 4, 5: 1}
    assert row.n_wedges == sum(d * (d - 1) // 2 for d in degs.values())
    assert row.clustering_coeff == 3 * 4 / row.n_wedges

    # deterministic pseudo-random graph vs naive triple check
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for i in range(300)
            for a, b in [((i * 7919) % 40, (i * i * 104729 + 13) % 40)]
            if a != b
        }
    )
    eset = set(edges)
    naive = sum(
        1
        for u, v, w in combinations(range(40), 3)
        if (u, v) in eset and (u, w) in eset and (v, w) in eset
    )
    row = triangle_stats(
        spark.createDataFrame(edges, "c1 int, c2 int")
    ).collect()[0]
    assert row.n_triangles == naive
    assert row.n_edges == len(edges)


def test_curriculum_interleave_invariants(spark):
    """The curriculum schedule is a permutation that round-robins the
    buckets: sorted by curriculum_pos, positions advance bucket-by-
    bucket — every doc at in-bucket position p feeds before every doc
    at position p+1, and within one position level buckets feed in
    bucket order."""
    from lambda_lakehouse_spark.registry import load_all

    q = load_all()["curriculum_length_interleave"]
    rows = q.spark(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert n == 500
    assert sorted(r.curriculum_pos for r in rows) == list(range(1, n + 1))
    # bucket sizes differ by at most 1 (exact ntile)
    sizes = {}
    for r in rows:
        sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
    assert set(sizes) == {1, 2, 3, 4}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # per-bucket positions are 1..size
    per = {}
    for r in rows:
        per.setdefault(r.bucket, []).append(r.pos_in_bucket)
    for b, ps in per.items():
        assert sorted(ps) == list(range(1, sizes[b] + 1))
    # global feed order == lexicographic (pos_in_bucket, bucket)
    feed = sorted(rows, key=lambda r: r.curriculum_pos)
    keys = [(r.pos_in_bucket, r.bucket) for r in feed]
    assert keys == sorted(keys)


def test_fk_edge_audit_crafted(spark):
    """Orphans, NULL FKs, and unreferenced parents are counted exactly
    on a crafted edge (values chosen so every metric is nonzero)."""
    from lambda_lakehouse_spark.operators.dq import fk_edge_audit

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (98,), (None,), (None,)],
        "fk int",
    )
    parent = spark.createDataFrame([(1,), (2,), (3,), (4,)], "pk int")
    row = fk_edge_audit(child, "fk", parent, "pk", "c.fk->p.pk").collect()[0]
    assert row.edge == "c.fk->p.pk"
    assert row.n_child_rows == 7
    assert row.n_null_fk == 2
    assert row.n_fk_values == 4  # {1, 2, 99, 98}
    assert row.n_orphan_values == 2  # {99, 98}
    assert row.n_parent_keys == 4
    assert row.n_unreferenced_parents == 2  # {3, 4}


def test_leakage_safe_split_duplicates_never_straddle(spark):
    """Every document sharing a cluster key lands in the same split,
    and all three splits appear over many distinct clusters."""
    from pyspark.sql import functions as F

    from lambda_lakehouse_spark.operators.corpus import leakage_safe_split

    rows = [(i, f"text-{i % 40}") for i in range(200)]  # 40 clusters x 5 dups
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = leakage_safe_split(docs, F.md5(F.col("text"))).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.cluster_key, set()).add(r.split)
        assert r.cluster_size == 5
    assert all(len(s) == 1 for s in by_key.values())
    assert len(by_key) == 40
    splits = {next(iter(s)) for s in by_key.values()}
    assert splits == {"train", "val", "test"}


def test_embed_label_separation_orthogonal_labels(spark):
    """Two labels of identical one-hot vectors: cosine to the own
    centroid is exactly 1.0, to the other exactly 0.0, margin 1.0
    (floor-scaled integer sums keep these values exact)."""
    from lambda_lakehouse_spark.registry import load_all

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [1.0, 0.0, 0.0, 0.0], 0),
            (3, [0.0, 1.0, 0.0, 0.0], 1),
            (4, [0.0, 1.0, 0.0, 0.0], 1),
        ],
        "vec_id bigint, embedding array<float>, label int",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        emb.write.parquet(f"{d}/embeddings.parquet")
        q = load_all()["embed_label_separation"]
        rows = q.spark(spark, d).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.cos_own == 1.0
        assert r.cos_other == 0.0
        assert r.margin == 1.0
        assert r.other_label != r.label
