"""Scale-path mechanics: salted joins produce plain-join results while
spreading hot keys; bucketed tables co-locate joins with zero shuffle
(the 100 TB fact-to-fact join strategy)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lambda_lakehouse_spark.operators.skew import salted_join
from lambda_lakehouse_spark.sources.readers import read_table
from tests.conftest import SF_DIR, plan_nodes, run_recorded


def test_salted_join_equals_plain_join(spark):
    li = read_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    # simulate skew: map most rows onto one hot key
    skewed = li.withColumn(
        "join_key", F.when(F.col("l_orderkey") % 4 != 0, F.lit(1)).otherwise(
            F.col("l_orderkey")
        )
    )
    dim = (
        skewed.select(F.col("join_key")).distinct()
        .withColumn("dim_val", F.col("join_key") * 10)
    )
    plain = skewed.join(dim, ["join_key"], "inner")
    salted = salted_join(skewed, dim, ["join_key"], "inner", buckets=8)
    assert salted.count() == plain.count()
    # value parity on an aggregate over the joined result
    a = plain.agg(F.sum("dim_val"), F.sum("l_quantity")).collect()[0]
    b = salted.agg(F.sum("dim_val"), F.sum("l_quantity")).collect()[0]
    assert a == b
    # left join with unmatched keys also matches
    dim_partial = dim.where(F.col("join_key") != 1)
    pl = skewed.join(dim_partial, ["join_key"], "left")
    sl = salted_join(skewed, dim_partial, ["join_key"], "left", buckets=8)
    assert sl.count() == pl.count()
    assert (
        sl.where(F.col("dim_val").isNull()).count()
        == pl.where(F.col("dim_val").isNull()).count()
    )


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bktdb LOCATION '{tmp_path}/bktdb'"
    )
    li = read_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    orders = read_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("bktdb.li_bucketed")
    )
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("bktdb.orders_bucketed")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast plan so bucketing is what avoids the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bktdb.li_bucketed").join(
            spark.table("bktdb.orders_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # and it still computes the right thing
        assert joined.count() == li.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE bktdb CASCADE")


def test_pit_join_bucketed_no_shuffle(spark, tmp_path):
    """The shuffle-free plan for the fact-to-SCD2 PIT join at scale:
    bucket both sides on the full equi-key set (symbol, country) —
    Spark requires all cluster keys for co-partition by default — and
    keep the version interval as a join filter. Proves the strategy
    recommended in fact_stock_daily's J5 comment."""
    from lambda_lakehouse_spark.operators.temporal import pit_join

    spark.sql(f"CREATE DATABASE IF NOT EXISTS pitdb LOCATION '{tmp_path}/pitdb'")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        facts = spark.createDataFrame(
            [(f"S{i % 50}", "VN", d, float(i))
             for i in range(2000)
             for d in ("2024-01-05", "2024-02-05")],
            "symbol string, country string, datadate string, px double",
        )
        dim = spark.createDataFrame(
            [(f"S{i}", "VN", "2024-01-01", "2024-01-31", i * 10)
             for i in range(50)]
            + [(f"S{i}", "VN", "2024-02-01", "9999-12-31", i * 10 + 1)
               for i in range(50)],
            "symbol string, country string, effective_from string, "
            "effective_to string, company_sk long",
        )
        (facts.write.mode("overwrite").bucketBy(8, "symbol", "country")
         .sortBy("symbol", "country").saveAsTable("pitdb.facts_b"))
        (dim.write.mode("overwrite").bucketBy(8, "symbol", "country")
         .sortBy("symbol", "country").saveAsTable("pitdb.dim_b"))

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = pit_join(
            spark.table("pitdb.facts_b"),
            spark.table("pitdb.dim_b"),
            keys=("symbol", "country"),
            time_col="datadate",
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed PIT join must not shuffle"
        # correctness unchanged: every fact resolves exactly one version
        out = joined.collect()
        assert len(out) == 4000
        jan = [r for r in out if r.datadate == "2024-01-05"]
        assert all(r.company_sk % 10 == 0 for r in jan)
        feb = [r for r in out if r.datadate == "2024-02-05"]
        assert all(r.company_sk % 10 == 1 for r in feb)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE pitdb CASCADE")


def test_fact_stock_daily_company_dim_not_force_broadcast(spark):
    """Regression for the one perf-weak site from round 2: the SCD2
    company dim must NOT be hint-broadcast into the PIT join — its
    version count grows without bound. With the auto threshold disabled
    the fact plan may contain hinted BroadcastExchanges only for the
    bounded dims (date/exchange/currency/status), never above the
    company-dim scan."""
    from lambda_lakehouse_spark.plans.stock_pipeline import (
        dim_company, dim_currency, dim_date, dim_exchange,
        dim_trading_status, fact_stock_daily, stg_vn,
    )
    from lambda_lakehouse_spark.sources.readers import read_csv_raw
    from tests.test_stock_pipeline import VN_DAYS, VN_HEADER

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import tempfile

        with tempfile.NamedTemporaryFile(
            "w", suffix=".csv", encoding="utf-8-sig", delete=False
        ) as fh:
            fh.write("\n".join([VN_HEADER, *VN_DAYS["2025-10-22"]]))
        stg = stg_vn(read_csv_raw(spark, fh.name), "2025-10-22")
        fact = fact_stock_daily(
            stg, dim_date(stg), dim_exchange(stg), dim_currency(spark, stg),
            dim_trading_status(stg), dim_company(stg),
        )
        lines = fact._jdf.queryExecution().executedPlan().toString().splitlines()
        # company_sk comes only from the SCD2 dim subtree; assert no
        # BroadcastExchange sits above a subtree producing company_sk
        import re

        def depth(line):
            return len(re.match(r"^([ :]*)", line).group(1))

        for i, line in enumerate(lines):
            if "BroadcastExchange" not in line:
                continue
            d = depth(line)
            for sub in lines[i + 1:]:
                if depth(sub) <= d:
                    break
                assert "company_sk" not in sub, (
                    "SCD2 company dim is hint-broadcast into the PIT join"
                )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_aqe_skew_join_engages_on_hot_key(spark):
    """Complement to the salting test: prove the OTHER skew defense —
    AQE's runtime skew-join split — actually engages on a hot-symbol
    fact join. With thresholds scaled to test data, the final adaptive
    plan's SortMergeJoin must carry ``skew=true`` (the executed-plan
    marker that the oversized partition was split), and the result must
    equal the non-AQE join."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one hot symbol owning ~95% of fact rows — the shape a single
        # index-heavy ticker gives the stock pipeline at scale
        facts = (
            spark.range(100_000)
            .select(
                F.when(F.col("id") % 20 != 0, F.lit("HOT"))
                .otherwise(F.concat(F.lit("S"), (F.col("id") % 997).cast("string")))
                .alias("symbol"),
                (F.col("id") % 1000).cast("double").alias("px"),
            )
        )
        dims = spark.range(1000).select(
            F.concat(F.lit("S"), F.col("id").cast("string")).alias("symbol"),
            F.col("id").alias("sk"),
        ).union(spark.createDataFrame([("HOT", -1)], "symbol string, sk long"))
        joined = facts.join(dims, "symbol")
        # collect() drives THIS DataFrame's own query execution (count()
        # would plan a separate one and leave this plan un-finalized)
        n = len(joined.collect())
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin" in plan
        assert "skew=true" in plan, (
            "AQE skew-join did not engage on the hot key:\n" + plan[:2000]
        )
        assert n == 100_000  # every fact row resolves exactly one dim
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _unchecked(oracle_runs):
    """(name, reason) for every query whose recorded plans are
    incomplete because its build, its action or the plan read raised:
    the plan guardrails report these rather than skip them."""
    return [
        (name, f"plans not recorded: {run.spark_error!r}"[:300])
        for name, run in sorted(oracle_runs.items())
        if run.spark_error is not None
    ]


def test_no_pathological_join_plans(oracle_runs):
    """Guardrail: no registry query may plan a CartesianProduct, and
    BroadcastNestedLoopJoin is allowed only where a deliberate bounded
    broadcast cross join exists (a 1-row aggregate such as BM25's
    corpus statistics, or the exact-cosine scorer's filter-bounded
    query side). Catches accidental non-equi joins before they reach a
    cluster.

    Checks the plans the oracle compare recorded (``oracle_runs``): each
    query's static plan, and the executed plan of every SQL execution it
    launched, which also covers the subtrees a lazy ``localCheckpoint``
    cuts out of the static plan."""
    # each entry joins a deliberate bounded broadcast side, harmless at
    # any scale; an entry whose query shows no BroadcastNestedLoopJoin
    # in either view is stale and fails the test
    bnlj_ok = {
        "agg_approx_sketches",  # 1-row merge-identity flag broadcast
        "q11_important_stock",
        "zorder_layout_keys",  # 1-row min/max bounds aggregate
        "search_bm25_topk",  # 1-row (N, avgdl) corpus-stats broadcast
        "corpus_collocations_lift",  # 1-row (Nt, Nb) totals broadcast
        "graph_pagerank_supply",  # 1-row node-count broadcast per iteration
        "bloom_semijoin_prune",  # 1-row count aggregates cross-joined
        "sample_priority_weighted",  # 1-row tau threshold broadcast
        "basket_association_rules",  # 1-row basket-count broadcast
        "dq_freshness_lag",  # 1-row global-max timestamp broadcast
        "seasonal_index_monthly",  # 1-row mean-monthly-revenue broadcast
        "profile_histogram_equiwidth",  # 1-row min/max bounds broadcast
        "embed_pca_top_component",  # 64-row vector + 1-row norm broadcasts
        "rfm_customer_segments",  # 1-row total-count broadcast per ntile
        "funnel_time_to_convert",  # 1-row converted-count broadcast
        "profile_histogram_equidepth",  # 1-row ntile total-count broadcast
        "sample_temperature_mixture",  # 1-row weight/doc totals broadcast
        "stats_ks_drift_sources",  # 1-row (n_a, n_b) totals broadcast
        "eval_decile_lift",  # 1-row base-rate totals broadcast
        "corpus_curation_pipeline",  # 1-row weight/doc totals broadcast
        "window_global_pctrank",  # 1-row customer-count broadcast
        "graph_triangle_count",  # 1-row edge-count + triangle-count broadcasts
        "stats_benford_first_digit",  # 1-row digit-total broadcast
        "stats_chi2_lang_source",  # 1-row grand-total broadcast
        "curriculum_length_interleave",  # ntile's 1-row total broadcast
        "dq_referential_integrity",  # per-edge 1-row count broadcasts
        "corpus_source_diversity",  # 1-row corpus-total broadcast
        "corpus_tfidf_topterms",  # 1-row doc-count broadcast
        "sample_target_mix_weights",  # 1-row totals + 1-row ESS broadcasts
        "corpus_token_spectrum",  # 1-row token-mass total broadcast
        "corpus_heaps_vocab_growth",  # 1-row max-id + 10-row decile joins
        "dedup_source_survival",  # 1-row per-source totals broadcast
        "search_hybrid_rrf",  # BM25's 1-row (N, avgdl) stats broadcast
        "eval_langid_kappa",  # 1-row total/tp/chance broadcasts
        "stats_halfsample_ci",  # 1-row variance-of-means broadcast
        # 1-row macro-recall totals + filter-bounded query-side broadcast
        "eval_ivf_recall",
        "ann_cosine_topk_rowlocal",  # filter-bounded query-side broadcast
        # filter-bounded query-side broadcast, under a lazy checkpoint
        "eval_ann_recall_ivf",
        "ann_cosine_topk_brute",  # filter-bounded query-side broadcast
        "eval_knn_label_accuracy",  # filter-bounded query-side broadcast
        "eval_cosine_calibration",  # filter-bounded query-side broadcast
        "eval_embedding_hubness",  # filter-bounded query-side broadcast
        "eval_matryoshka_prefix_recall",  # filter-bounded query-side broadcast
        "mine_hard_negatives",  # filter-bounded query-side broadcast
        "mine_bitext_margin",  # filter-bounded query-side broadcast
        "text_bpe_train_merges",  # 1-row merge-rule broadcast per round
        "sample_dsir_hashed_ngrams",  # 1-row totals + 1-row tau broadcasts
        "eval_dsir_target_shift",  # 1-row totals/tau + 1-row TV fold
        "text_bpe_compression",  # bpe_train's 1-row merge-rule per round
        "quality_lm_surprisal",  # 1-row LM-model-total (c_tot) broadcast
        "quality_ccnet_terciles",  # same c_tot broadcast + ntile totals
        "sample_kcenter_coreset",  # k 1-row new-center broadcasts
        "corpus_chi2_keywords",  # 1-row corpus-total (N) broadcast
        "quality_bigram_surprisal",  # 1-row LM-model-total (c_tot) broadcast
        "quality_perplexity_drift",  # 1-row target-baseline broadcast
        "eval_ivf_cell_balance",  # 1-row corpus-total broadcast
    }
    offenders, bnlj_seen = _unchecked(oracle_runs), set()
    for name, run in sorted(oracle_runs.items()):
        for view, plan in run.plans():
            ops = {node.name for node in plan_nodes(plan)}
            if "CartesianProduct" in ops:
                offenders.append((name, view, "CartesianProduct"))
            if "BroadcastNestedLoopJoin" in ops:
                bnlj_seen.add(name)
                if name not in bnlj_ok:
                    offenders.append((name, view, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders
    stale = bnlj_ok - bnlj_seen
    assert not stale, f"allowlist entries no longer needed: {stale}"


def test_executed_plans_show_a_join_under_a_lazy_checkpoint(spark):
    """The executed view sees what the static plan cannot: a
    BroadcastNestedLoopJoin under ``localCheckpoint(eager=False)``
    shows in the static plan only as the checkpoint's RDD scan, but the
    execution that materializes the checkpoint records it."""

    def build():
        counts = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
        probe = spark.range(3).withColumnRenamed("id", "j")
        joined = counts.join(F.broadcast(probe), F.col("k") > F.col("j"))
        return joined.localCheckpoint(eager=False).groupBy().count()

    run = run_recorded(spark, build)
    assert run.spark_error is None, run.spark_error
    assert run.columns == ["count"]

    def joins(plan):
        return [n for n in plan_nodes(plan) if n.name == "BroadcastNestedLoopJoin"]

    assert not joins(run.static_plan)
    assert "Scan" in {n.name for n in plan_nodes(run.static_plan)}
    assert any(joins(plan) for plan in run.executed_plans)


def test_no_unpartitioned_window_over_unbounded_input(oracle_runs):
    """Third plan guardrail (round-5 verdict): no registry query may
    execute a WindowExec with an empty partition spec ("No Partition
    Defined … moving all data to a single partition") unless its input
    subtree is bounded — either by a limit-class operator
    (TakeOrderedAndProject / CollectLimit / GlobalLimit) or by an
    explicitly allowlisted aggregation whose group-key domain does not
    grow with scale factor. This is the check that would have caught
    the ten single-partition global-sort plans fixed this round
    (operators/ranking.py holds the sanctioned replacements)."""
    import re

    # Unpartitioned windows whose input relation is bounded by an
    # AGGREGATE on a fixed-cardinality key (a limit would be visible to
    # the structural check below; these need human sign-off instead):
    global_window_ok = {
        # per-nation revenue aggregate: |nations| rows at any sf
        "window_share_of_total": "input aggregated to one row per nation",
    }
    bounding = ("TakeOrderedAndProject", "CollectLimit", "GlobalLimit")

    def bracket_groups(s):
        """Top-level [...] groups of a plan node's argument list."""
        out, d, cur = [], 0, None
        for ch in s:
            if ch == "[":
                d += 1
                if d == 1:
                    cur = []
                    continue
            elif ch == "]":
                d -= 1
                if d == 0:
                    out.append("".join(cur))
                    cur = None
                    continue
            if cur is not None:
                cur.append(ch)
        return out

    def unpartitioned_global_windows(plan):
        """[(order_spec, subtree_is_bounded)] for every Window node with
        no partition columns. A Window's arguments print as
        ``[exprs], [partitionSpec], [orderSpec]`` with the partition
        group absent when empty; order groups carry ASC/DESC markers,
        partition groups don't."""
        hits = []
        for node in plan_nodes(plan):
            if node.name != "Window":
                continue
            groups = bracket_groups(node.args)
            partition_groups = [
                g
                for g in groups[1:]
                if g and not re.search(r"\b(ASC|DESC)\b", g)
            ]
            if partition_groups:
                continue  # partitioned — scales out
            bounded = not node.below.isdisjoint(bounding)
            order = groups[1] if len(groups) > 1 else "<none>"
            hits.append((order[:80], bounded))
        return hits

    offenders, allowlist_hits = _unchecked(oracle_runs), set()
    for name, run in sorted(oracle_runs.items()):
        for view, plan in run.plans():
            for order, bounded in unpartitioned_global_windows(plan):
                if bounded:
                    continue
                if name in global_window_ok:
                    allowlist_hits.add(name)
                else:
                    offenders.append((name, view, order))
    assert not offenders, (
        "unpartitioned WindowExec over an unbounded input — use "
        "operators/ranking.py (global_topk / exact_global_rank / "
        "prefix_max_exclusive) instead: " + repr(offenders)
    )
    stale = set(global_window_ok) - allowlist_hits
    assert not stale, f"allowlist entries no longer needed: {stale}"


def test_no_forced_broadcast_of_sf_proportional_tables(spark):
    """Guardrail: with autoBroadcastJoinThreshold=-1 the static plan can
    only contain a BroadcastExchange that came from an explicit hint.
    Any such exchange whose subtree scans a table that grows with scale
    factor (lineitem/orders/customer/supplier/part/documents/embeddings)
    is an executor-OOM-at-100TB bug. Bounded dims (nation, region, seed
    lookups, probe sets) may stay hinted."""
    import re

    from lambda_lakehouse_spark.registry import load_all

    big = (
        "lineitem.parquet",
        "orders.parquet",
        "customer.parquet",
        "supplier.parquet",
        "part.parquet",
        "documents.parquet",
        "embeddings.parquet",
    )
    # Hinted sides that scan a big table but are bounded by construction:
    # ann queries broadcast the ≤|query-set| filtered vectors and the
    # k-means centroid/seed tables (limit- or agg-bounded); the
    # decontamination probe is a fixed benchmark slice; q15 broadcasts
    # the ties-for-max aggregate (|ties| rows). The raw table never
    # ships — enforced below: an allowlisted broadcast subtree must
    # contain a bounding operator (Filter/Aggregate/Limit) between the
    # exchange and the scan, so losing a pushed filter fails the test
    # instead of hiding behind the allowlist.
    bounded_by_construction = {
        "agg_approx_sketches": {"orders.parquet"},  # 1-row agg flags
        # Q11's scalar-subquery total: a 1-row global aggregate of the
        # national lineitem slice, broadcast for the share-of-total
        # HAVING — agg-bounded by construction
        "q11_important_stock": {"lineitem.parquet", "supplier.parquet"},
        # z-order bounds: 1-row global min/max aggregate of the key
        # columns, broadcast to normalize per-row buckets
        "zorder_layout_keys": {"lineitem.parquet"},
        "ann_cosine_topk_brute": {"embeddings.parquet"},
        "ann_cosine_topk_ivf": {"embeddings.parquet"},
        "ann_cosine_topk_ivf_pretrained": {"embeddings.parquet"},
        "ann_cosine_topk_hyperlsh": {"embeddings.parquet"},
        "decontaminate_overlap": {"documents.parquet"},
        "dedup_simhash": {"documents.parquet"},
        "q15_top_supplier": {"lineitem.parquet"},
        # BM25's broadcast sides are the ≤6-row query-term/df relation
        # (rank-window-bounded) and the 1-row corpus stats aggregate
        "search_bm25_topk": {"documents.parquet"},
        # 1-row (Nt, Nb) token/bigram totals aggregate
        "corpus_collocations_lift": {"documents.parquet"},
        # 1-row node-count aggregate broadcast into every iteration
        "graph_pagerank_supply": {"lineitem.parquet"},
        # the Bloom bit-set: DISTINCT positions, ≤ M_BITS rows by
        # construction regardless of dimension size
        "bloom_semijoin_prune": {"customer.parquet"},
        # 1-row tau ((k+1)-th priority) aggregate broadcast over the
        # k sampled winners
        "sample_priority_weighted": {"documents.parquet"},
        # 1-row distinct-basket-count aggregate
        "basket_association_rules": {"lineitem.parquet"},
        # 1-row mean-monthly-revenue aggregate
        "seasonal_index_monthly": {"orders.parquet"},
        # 1-row min/max histogram bounds aggregate
        "profile_histogram_equiwidth": {"orders.parquet"},
        # the dimension-sized (64-row distinct-agg) direction vector and
        # the 1-row norm aggregate
        "embed_pca_top_component": {"embeddings.parquet"},
        # two-pass exact-rank offsets: #shuffle-partitions-row aggregates
        # broadcast back over the range-partitioned relation
        # (operators/ranking.py exact_global_rank / prefix_max_exclusive)
        "rfm_customer_segments": {"orders.parquet"},
        "customer_spend_gini": {"orders.parquet"},
        "skyline_pareto_parts": {"part.parquet"},
        "text_vocab_coverage": {"documents.parquet"},
        "profile_histogram_equidepth": {"orders.parquet"},
        # 1-row sqrt-weight/doc-count totals aggregate
        "sample_temperature_mixture": {"documents.parquet"},
        # prefix-sum offsets + 1-row totals aggregates
        "stats_ks_drift_sources": {"documents.parquet"},
        # 1-row self-mined probe bigram (aggregate + limit bounded)
        "search_phrase_positional": {"documents.parquet"},
        # prefix-sum offsets / ntile totals aggregates
        "eval_auc_exact": {"documents.parquet"},
        "eval_decile_lift": {"documents.parquet"},
        # per-day-delta prefix-sum offsets (aggregate-bounded)
        "interval_open_orders_sweep": {"lineitem.parquet", "orders.parquet"},
        # |sources|-row temperature-rate table (aggregate-bounded)
        "corpus_curation_pipeline": {"documents.parquet"},
        # prefix-sum offsets + 1-row count aggregates
        "window_global_pctrank": {"orders.parquet"},
        # exact-rank offsets + 1-row count / 2x|p|-row bracket spec
        "agg_percentile_cont_global": {"orders.parquet"},
        # ntile totals + exact-rank offsets (grouped-rank joins unhinted)
        "curriculum_length_interleave": {"documents.parquet"},
        # exact-rank offsets + 1-row edge/triangle count aggregates
        "graph_triangle_count": {"lineitem.parquet", "orders.parquet"},
        # filter-bounded probe side + 1-row query-norm aggregates
        # (cosine_topk's broadcast query relation)
        "eval_knn_label_accuracy": {"embeddings.parquet"},
        # 1-row digit-total aggregate
        "stats_benford_first_digit": {"orders.parquet"},
        # 1-row grand-total aggregate
        "stats_chi2_lang_source": {"documents.parquet"},
        # per-edge 1-row orphan/parent count aggregates
        "dq_referential_integrity": {
            "lineitem.parquet",
            "orders.parquet",
            "customer.parquet",
            "supplier.parquet",
            "part.parquet",
        },
        # |labels|x|dims|-row centroid aggregate + |labels|-row norms
        "embed_label_separation": {"embeddings.parquet"},
        # filter-bounded query-side LUT/norm aggregates (≤N_QUERIES)
        "ann_cosine_topk_ivfpq": {"embeddings.parquet"},
        # both rankings broadcast the filter-bounded query side
        "eval_matryoshka_prefix_recall": {"embeddings.parquet"},
        # 1-row corpus-total broadcast
        "corpus_source_diversity": {"documents.parquet"},
        # 1-row doc-count broadcast
        "corpus_tfidf_topterms": {"documents.parquet"},
        # 1-row source-totals + 1-row ESS aggregates
        "sample_target_mix_weights": {"documents.parquet"},
        # 1-row (n_a, n_b) group-count totals broadcast
        "stats_mannwhitney_doclen": {"documents.parquet"},
        # 1-row token-mass total broadcast over the bounded spectrum
        "corpus_token_spectrum": {"documents.parquet"},
        # 1-row max-id + <=10-row decile/bucket profile broadcasts
        "corpus_heaps_vocab_growth": {"documents.parquet"},
        # 1-row per-source totals broadcast
        "dedup_source_survival": {"documents.parquet"},
        # filter-bounded query side (cosine_topk broadcast + label join)
        "eval_cosine_calibration": {"embeddings.parquet"},
        # BM25's bounded query terms + 1-row stats; cosine's
        # filter-bounded query side — both branch heads are top-k
        "search_hybrid_rrf": {"documents.parquet", "embeddings.parquet"},
        # 1-row variance-of-means aggregate over the 64-row replicates
        "stats_halfsample_ci": {"documents.parquet"},
        # both searches broadcast only filter-bounded query sides;
        # the comparison joins two <=N_QUERIES*k-row relations
        "eval_ivf_recall": {"embeddings.parquet"},
        # filter-bounded query rows broadcast into the row-local pass
        "ann_cosine_topk_rowlocal": {"embeddings.parquet"},
        # 1-row winning merge rule (top-1 bounded) broadcast per round
        "text_bpe_train_merges": {"documents.parquet"},
        # ≤B-row bucket-ratio model + 1-row totals + 1-row tau (all
        # aggregate-bounded; the corpus relation itself never ships)
        "sample_dsir_hashed_ngrams": {"documents.parquet"},
        # same DSIR model broadcasts + the K-row (limit-bounded)
        # selected-sample id set probed back into the feature relation
        "eval_dsir_target_shift": {"documents.parquet"},
        # both cosine branches broadcast the filter-bounded query side;
        # the positives branch is additionally top-1-bounded
        "mine_hard_negatives": {"embeddings.parquet"},
        # bpe_train's 1-row winning merge rule per round
        "text_bpe_compression": {"documents.parquet"},
        # ≤LM_BUCKETS-row unigram count model + 1-row c_tot total (both
        # aggregate-bounded; the token stream itself never ships)
        "quality_lm_surprisal": {"documents.parquet"},
        # same LM model broadcasts + the exact-ntile totals/offsets
        "quality_ccnet_terciles": {"documents.parquet"},
        # |sources|-row gram-vocabulary-size aggregates broadcast onto
        # the bounded source-pair matrix (the gram relation never ships)
        "eval_source_contamination": {"documents.parquet"},
        # the seed / per-step new-center broadcasts are LIMIT-1-bounded
        # relations over the embeddings scan (or the checkpointed
        # min-distance relation)
        "sample_kcenter_coreset": {"embeddings.parquet"},
        # the 1-row corpus-total broadcast is aggregate-bounded
        "corpus_chi2_keywords": {"documents.parquet"},
        # exact_global_rank's prefix-sum offsets (aggregate-bounded),
        # one per rank pass — the doc relation itself never ships
        "eval_signal_spearman": {"documents.parquet"},
        # filter-bounded query sides (even vec_id < BITEXT_Q, then the
        # <=Q distinct top-1 matches), their 1-row-per-query norm
        # aggregates, and the top-1 backward relation — every hinted
        # side is filter/aggregate/top-1 bounded
        "mine_bitext_margin": {"embeddings.parquet"},
        # <=B-row unigram + <=B^2-row bigram count models and the 1-row
        # c_tot total (all aggregate-bounded; the token stream never
        # ships) — the bigram twin of quality_lm_surprisal's entry
        "quality_bigram_surprisal": {"documents.parquet"},
        # same LM model broadcasts feeding the per-source roll-up, plus
        # the 1-row target-baseline aggregate
        "quality_perplexity_drift": {"documents.parquet"},
        # composes the two certified ANN paths: the filter-bounded
        # query-set broadcasts (vec_id < N_QUERIES) and the
        # aggregate-bounded k-means centroid tables, exactly the
        # subtrees allowlisted for ann_cosine_topk_brute/_ivf
        "eval_ann_recall_ivf": {"embeddings.parquet"},
        # cosine_topk's filter-bounded query-panel broadcasts (vec_id %
        # HUB_SAMPLE_MOD == 0 AND < HUB_SAMPLE_CAP => constant-bounded
        # at any corpus size), same subtrees as ann_cosine_topk_brute
        "eval_embedding_hubness": {"embeddings.parquet"},
        # the aggregate-bounded k-means centroid/seed broadcasts (same
        # subtrees as ann_cosine_topk_ivf) + the 1-row corpus-total
        # broadcast behind the balance ratio
        "eval_ivf_cell_balance": {"embeddings.parquet"},
        # embed_pq_codes' aggregate-bounded codebook broadcasts plus
        # the same codebook rejoined for the reconstruction pass
        "eval_pq_distortion": {"embeddings.parquet"},
    }
    bounding_ops = (
        "Filter", "HashAggregate", "SortAggregate", "ObjectHashAggregate",
        "GlobalLimit", "CollectLimit", "TakeOrderedAndProject",
    )

    def depth(line):
        return len(re.match(r"^([ :]*)", line).group(1))

    def forced_big_broadcasts(df):
        """[(table, subtree_has_bounding_op)] per hinted BroadcastExchange
        scanning a growing table."""
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        hits = []
        for i, line in enumerate(lines):
            if "BroadcastExchange" not in line:
                continue
            d = depth(line)
            subtree = []
            for sub in lines[i + 1 :]:
                if depth(sub) <= d:
                    break
                subtree.append(sub)
            tables = {
                t for sub in subtree if "Scan" in sub for t in big if t in sub
            }
            bounded = any(op in sub for sub in subtree for op in bounding_ops)
            hits.extend((t, bounded) for t in sorted(tables))
        return hits

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_meta = spark.conf.get("spark.sql.maxMetadataStringLength")
    offenders = []
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # default 100-char Location truncation can cut the table filename
        # out of FileScan lines under a long SPARK_GRAFT_TEST_SF_DIR →
        # silent false negatives in the filename match above
        spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
        for name, q in sorted(load_all().items()):
            allowed = bounded_by_construction.get(name, set())
            for t, bounded in forced_big_broadcasts(q.spark(spark, SF_DIR)):
                if t not in allowed:
                    offenders.append((name, t, "not allowlisted"))
                elif not bounded:
                    offenders.append((name, t, "allowlisted but unbounded subtree"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.maxMetadataStringLength", prev_meta)
    assert not offenders, offenders
