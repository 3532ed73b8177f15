"""Pipeline-level golden test (SURVEY §5 item 2): raw stock CSVs →
stg contract → 5 dims → fact, asserting row counts, surrogate-key
determinism, SCD2 interval invariants, G3 boundary fan-out, and
idempotent re-runs. Raw fixtures exercise the reference's CSV edge
cases (G8): UTF-8 BOM, multiline quoted summaries, dirty numerics,
"Not found" placeholders, null/empty symbols."""

from __future__ import annotations

import datetime as dt
import zlib

import pytest
from pyspark.sql import functions as F

from lambda_lakehouse_spark.plans.stock_pipeline import (
    STG_CONTRACT,
    run_pipeline,
)
from lambda_lakehouse_spark.sources.readers import read_csv_raw

VN_HEADER = (
    "symbol,datadate,company_name,industry,website,no_employees,ref_price,"
    "prior_close_price,ceiling,floor,foreign_percent,delta_in_week,"
    "delta_in_month,delta_in_year,average_match_volume2_week,"
    "outstanding_share,issue_share,exchange_overview,exchange_price,"
    "trading_status,trading_status_code,trading_status_group"
)

# day-keyed VN rows: AAA changes industry on D2; BBB employees go
# NULL→640 on D2 (both SCD2 version breaks); one dirty-numeric row, one null symbol row (filtered),
# one prev_close=0 row (pct_change NULL guard), AAA hits its ceiling
# on D1 (is_limit_up).
VN_DAYS = {
    "2025-10-22": [
        'aaa ,2025-10-22,Alpha Corp,Banking,https://a.vn,"1,200",12.5,12.0,'
        "12.5,11.0,0.12,0.5,1.0,2.0,34000,100.5,99,HOSE,,Active,ACT,NORMAL",
        'BBB,2025-10-22,"Beta, Inc",Retail,https://b.vn,Not found,8.0,0,8.8,'
        "7.2,0.05,0.1,0.2,0.3,12000,50.25,50,,HNX,Active,ACT,NORMAL",
        ",2025-10-22,NoSymbol Co,X,,10,1,1,1,1,0,0,0,0,1,1,1,HOSE,,A,A,A",
    ],
    "2025-10-23": [
        "AAA,2025-10-23,Alpha Corp,Insurance,https://a.vn,1200,13.0,12.5,"
        "13.75,11.25,0.12,0.5,1.0,2.0,34000,100.5,99,HOSE,,Active,ACT,NORMAL",
        'BBB,2025-10-23,"Beta, Inc",Retail,https://b.vn,640 people,8.2,8.0,'
        "8.8,7.2,0.05,0.1,0.2,0.3,12000,50.25,50,,HNX,Active,ACT,NORMAL",
    ],
    "2025-10-24": [
        "AAA,2025-10-24,Alpha Corp,Insurance,https://a.vn,1200,13.1,13.0,"
        "14.3,11.7,0.12,0.5,1.0,2.0,34000,100.5,99,HOSE,,Active,ACT,NORMAL",
        'BBB,2025-10-24,"Beta, Inc",Retail,https://b.vn,640,8.4,8.2,8.8,'
        "7.2,0.05,0.1,0.2,0.3,12000,50.25,50,,HNX,Halted,HLT,SUSPENDED",
    ],
}

US_HEADER = (
    "symbol,company_name,sector,industry,website,business_summary,"
    "full_time_employees,market_cap,country,city,phone,previous_close,"
    "current_price,currency,datadate"
)
US_ROWS = [
    'MSGR,Messenger Co,Tech,Software,https://m.us,"Makes software.\n'
    'Multiline summary, with a comma.","12,345","1,000,000",United States,'
    "NYC,555,100.0,101.5,USD,2025-10-24",
    "ACME,Acme Corp,Industrial,Widgets,https://a.us,Plain summary,Not found,"
    "500000,United States,LA,555,20.0,19.5,USD,2025-10-24",
]

JP_HEADER = (
    "ticker,company_name,company_name_jp,sector,industry,website,"
    "business_summary,employees,market_cap,exchange,method,previous_close,"
    "current_price,currency,datadate"
)
JP_ROWS = [
    "9996,Nippon Co,ニッポン,Auto,Cars,https://n.jp,Summary JP,4400,"
    "90000,TSE,scrape,1500.0,1512.0,JPY,2025-10-24",
]


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    raw_dir = tmp_path_factory.mktemp("raw")
    batches = []
    for day, rows in VN_DAYS.items():
        p = raw_dir / f"vn_{day}.csv"
        # utf-8-sig BOM, as the reference's ingest writes (vnstock.py:49)
        p.write_text("\n".join([VN_HEADER, *rows]), encoding="utf-8-sig")
        batches.append(("VN", read_csv_raw(spark, str(p)), day))
    us = raw_dir / "us.csv"
    us.write_text("\n".join([US_HEADER, *US_ROWS]), encoding="utf-8-sig")
    batches.append(("US", read_csv_raw(spark, str(us)), "2025-10-24"))
    jp = raw_dir / "jp.csv"
    jp.write_text("\n".join([JP_HEADER, *JP_ROWS]), encoding="utf-8")
    batches.append(("JP", read_csv_raw(spark, str(jp)), "2025-10-24"))

    out = str(tmp_path_factory.mktemp("curated"))
    return run_pipeline(spark, batches, out), out, batches


def test_stg_contract_shape(spark, pipeline_out):
    tables, _, _ = pipeline_out
    stg = tables["stg_stock"]
    assert [f.name for f in stg.schema.fields] == [c for c, _ in STG_CONTRACT]
    # null-symbol row filtered; VN 2+2+2, US 2, JP 1
    assert stg.count() == 9
    # dirty numerics cleaned: "1,200" → 1200; "Not found" → NULL;
    # "640 people" → 640
    aaa = stg.where((F.col("symbol") == "AAA") & (F.col("datadate") == "2025-10-22"))
    row = aaa.collect()[0]
    assert row.employees == 1200
    assert row.outstanding_share == 100_500_000  # millions scaled, long
    bbb_d1 = stg.where(
        (F.col("symbol") == "BBB") & (F.col("datadate") == "2025-10-22")
    ).collect()[0]
    assert bbb_d1.employees is None  # "Not found"
    assert bbb_d1.company_name == "Beta, Inc"  # quoted comma survives
    # symbol normalized from ' aaa '
    assert stg.where(F.col("symbol") == "AAA").count() == 3
    # US multiline summary row parsed as ONE record with employees cleaned
    msgr = stg.where(F.col("symbol") == "MSGR").collect()[0]
    assert msgr.employees == 12345 and msgr.market_cap == 1_000_000.0
    # JP symbol from ticker, currency stamped
    jp = stg.where(F.col("country") == "JP").collect()[0]
    assert jp.symbol == "9996" and jp.currency == "JPY"


def test_dims_golden(spark, pipeline_out):
    tables, _, _ = pipeline_out
    dd = tables["dim_date"]
    assert dd.count() == 3
    d = {r.date.isoformat(): r for r in dd.collect()}
    assert d["2025-10-24"].date_sk == 20251024
    assert d["2025-10-24"].is_weekend is False  # a Friday

    dex = tables["dim_exchange"]
    codes = {(r.exchange_code, r.exchange_country) for r in dex.collect()}
    assert codes == {("HOSE", "VN"), ("HNX", "VN"), ("TSE", "JP")}
    # crc32 SK determinism against zlib
    for r in dex.collect():
        expect = zlib.crc32(f"{r.exchange_code}:{r.exchange_country}".encode())
        assert r.exchange_sk == expect

    dcur = tables["dim_currency"]
    cur = {r.currency_code: r for r in dcur.collect()}
    assert set(cur) == {"VND", "USD", "JPY"}
    assert cur["USD"].fx_rate_vnd == 25000.0
    assert cur["VND"].currency_name == "Vietnamese Dong"

    dst = tables["dim_trading_status"]
    st = {(r.status_code, r.status_group) for r in dst.collect()}
    assert st == {("ACT", "NORMAL"), ("HLT", "SUSPENDED")}


def test_dim_company_scd2_invariants(spark, pipeline_out):
    tables, _, _ = pipeline_out
    dc = tables["dim_company"]
    # AAA changed industry on D2 → 2 versions; BBB's employees went
    # "Not found"(NULL) → 640 on D2 → also 2 versions
    assert dc.where(F.col("symbol") == "AAA").count() == 2
    assert dc.where(F.col("symbol") == "BBB").count() == 2
    # exactly one open current version per key
    cur = dc.where(F.col("is_current"))
    assert cur.count() == dc.select("symbol", "country").distinct().count()
    assert all(r.effective_to.isoformat() == "9999-12-31" for r in cur.collect())
    # reference G3 parity: v1.effective_to == v2.effective_from
    aaa = sorted(
        dc.where(F.col("symbol") == "AAA").collect(), key=lambda r: r.version
    )
    assert aaa[0].effective_to == aaa[1].effective_from
    # crc32 SK over symbol||country||effective_from
    for r in aaa:
        expect = zlib.crc32(
            f"AAA||VN||{r.effective_from.isoformat()}".encode()
        )
        assert r.company_sk == expect


def test_fact_assembly_and_g3_fanout(spark, pipeline_out):
    tables, _, _ = pipeline_out
    fact = tables["fact_stock_daily"]
    # grain: one row per stg row EXCEPT the G3 boundary fan-out — AAA
    # and BBB both version-break on D2, so each D2 fact row matches two
    # versions (the documented reference behavior, SURVEY G3)
    assert fact.count() == 9 + 2
    boundary = fact.where(
        (F.col("symbol") == "AAA") & (F.col("date_sk") == 20251023)
    )
    assert boundary.count() == 2
    assert boundary.select("company_sk").distinct().count() == 2

    # pct_change NULL guard: BBB D1 has previous_close = 0
    bbb_d1 = fact.where(
        (F.col("symbol") == "BBB") & (F.col("date_sk") == 20251022)
    ).collect()[0]
    assert bbb_d1.pct_change is None
    # limit-up flag: AAA D1 current == ceiling
    aaa_d1 = fact.where(
        (F.col("symbol") == "AAA") & (F.col("date_sk") == 20251022)
    ).collect()[0]
    assert aaa_d1.is_limit_up is True and aaa_d1.is_limit_down is False
    # FK coverage: VN rows all resolve exchange + currency + status SKs
    vn = fact.where(F.col("country") == "VN")
    assert vn.where(F.col("currency_sk").isNull()).count() == 0
    assert vn.where(F.col("trading_status_sk").isNull()).count() == 0
    # US rows: exchange is NULL by design → no exchange SK (left join)
    us = fact.where(F.col("country") == "US")
    assert us.where(F.col("exchange_sk").isNull()).count() == us.count()


def test_rerun_idempotent(spark, pipeline_out):
    tables, out, batches = pipeline_out
    before = tables["fact_stock_daily"].count()
    # re-run only the last VN day + JP batch: dynamic overwrite must
    # replace, not duplicate
    rerun = [b for b in batches if b[2] == "2025-10-24" and b[0] in ("VN", "JP")]
    tables2 = run_pipeline(spark, rerun, out)
    assert tables2["stg_stock"].count() == 9
    assert tables2["fact_stock_daily"].count() == before


def test_pipeline_retry_recovers_transient_failure(
    spark, pipeline_out, tmp_path, monkeypatch
):
    """§2.10 retry semantics (Airflow retries=2 in the reference): a
    stage that fails transiently is re-executed and the DAG completes;
    with retries exhausted the failure propagates."""
    from lambda_lakehouse_spark.plans import stock_pipeline as sp

    _, _, batches = pipeline_out
    out = str(tmp_path / "retry_out")

    real_stg_us = sp.STG_JOBS["US"]
    calls = {"n": 0}

    def flaky_us(raw, batch_date):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient: simulated executor loss")
        return real_stg_us(raw, batch_date)

    monkeypatch.setitem(sp.STG_JOBS, "US", flaky_us)
    tables = sp.run_pipeline_resilient(spark, batches, out, retries=2)
    assert calls["n"] == 2  # failed once, retried once, succeeded
    assert tables["stg_stock"].count() == 9

    # retries=0 propagates the first failure
    calls["n"] = 0
    with pytest.raises(RuntimeError, match="transient"):
        sp.run_pipeline_resilient(
            spark, batches, str(tmp_path / "retry_out2"), retries=0, resume=False
        )


def test_pipeline_resume_skips_completed_stages(spark, pipeline_out, tmp_path, monkeypatch):
    """§2.10 resume semantics (vnstock.py's resumable ingest): after a
    mid-DAG crash, the re-run skips stages whose completion marker
    exists and executes only the remainder."""
    from lambda_lakehouse_spark.plans import stock_pipeline as sp

    _, _, batches = pipeline_out
    out = str(tmp_path / "resume_out")

    real_dim_company = sp.dim_company
    fail = {"on": True}

    def crashing_dim_company(stg, closed_boundaries=True):
        if fail["on"]:
            raise RuntimeError("crash: simulated OOM in dim_company")
        return real_dim_company(stg, closed_boundaries)

    monkeypatch.setattr(sp, "dim_company", crashing_dim_company)
    with pytest.raises(RuntimeError, match="crash"):
        sp.run_pipeline_resilient(spark, batches, out, retries=0)

    # stg + the dims built before the crash are marked done (dim/fact
    # markers carry the stg-set signature after the @)
    import os

    state = os.path.join(out, "_pipeline_state")
    done_before = set(os.listdir(state))
    assert any(m.startswith("stg_") for m in done_before)
    assert not any(m.startswith("dim_company@") for m in done_before)

    # the resumed run must NOT re-execute completed stg stages
    stg_calls = {"n": 0}
    real_vn = sp.STG_JOBS["VN"]

    def counting_vn(raw, batch_date):
        stg_calls["n"] += 1
        return real_vn(raw, batch_date)

    monkeypatch.setitem(sp.STG_JOBS, "VN", counting_vn)
    fail["on"] = False
    tables = sp.run_pipeline_resilient(spark, batches, out, retries=0, resume=True)
    assert stg_calls["n"] == 0  # completed stages skipped
    assert any(m.startswith("dim_company@") for m in os.listdir(state))
    # resumed DAG converges to exactly the clean run's output (fresh
    # read: earlier idempotency tests rewrote the clean store's files,
    # so the fixture's cached DataFrame holds a stale file listing)
    _, clean_out, _ = pipeline_out
    clean_count = spark.read.parquet(f"{clean_out}/fact_stock_daily").count()
    assert tables["fact_stock_daily"].count() == clean_count


def test_pipeline_resume_rebuilds_dims_for_new_batches(spark, pipeline_out, tmp_path):
    """Regression for the stale-marker hazard: dim/fact markers are
    keyed by the stg-marker-set signature, so ingesting a NEW batch
    into an existing out_dir must rebuild dims and fact over the grown
    staging table — not skip them because yesterday's markers exist."""
    from lambda_lakehouse_spark.plans import stock_pipeline as sp

    _, clean_out, batches = pipeline_out
    out = str(tmp_path / "incr_out")

    # day 1: everything except the JP batch
    day1 = [b for b in batches if b[0] != "JP"]
    t1 = sp.run_pipeline_resilient(spark, day1, out, retries=0, resume=True)
    assert t1["stg_stock"].count() == 8  # JP row missing
    assert t1["dim_exchange"].where(
        F.col("exchange_code") == "TSE"
    ).count() == 0

    # day 2 into the SAME out_dir: only the JP batch is new
    day2 = [b for b in batches if b[0] == "JP"]
    t2 = sp.run_pipeline_resilient(spark, day2, out, retries=0, resume=True)
    assert t2["stg_stock"].count() == 9
    # dims were re-keyed and rebuilt: the JP exchange now exists
    assert t2["dim_exchange"].where(
        F.col("exchange_code") == "TSE"
    ).count() == 1
    # fact converges to the clean full-run output
    clean_count = spark.read.parquet(f"{clean_out}/fact_stock_daily").count()
    assert t2["fact_stock_daily"].count() == clean_count


def test_stg_is_one_write_and_duplicate_batch_keeps_last(
    spark, pipeline_out, tmp_path, monkeypatch
):
    """Every staging batch of one call lands in ONE partitioned write;
    a (country, batch_date) given twice keeps its last batch, as
    successive overwrites of its partition would."""
    from lambda_lakehouse_spark.plans import stock_pipeline as sp

    _, _, batches = pipeline_out
    targets = []
    real_write = sp.write_partitioned

    def counting_write(df, path, **kw):
        targets.append(path.rsplit("/", 1)[-1])
        return real_write(df, path, **kw)

    monkeypatch.setattr(sp, "write_partitioned", counting_write)
    # VN 2025-10-24 twice: first with the 2025-10-23 raw rows (VN stamps
    # datadate from the batch), then with its own
    d2_raw = next(raw for c, raw, d in batches if (c, d) == ("VN", "2025-10-23"))
    tables = sp.run_pipeline(spark, [("VN", d2_raw, "2025-10-24"), *batches], str(tmp_path))
    assert targets.count("stg_stock") == 1
    stg = tables["stg_stock"]
    assert stg.count() == 9
    aaa = stg.where((F.col("symbol") == "AAA") & (F.col("datadate") == "2025-10-24"))
    assert [r.current_price for r in aaa.collect()] == [13.1]


def _failing_dim_exchange(real):
    """dim_exchange whose plan builds but whose write fails."""

    def dim_exchange(stg):
        df = real(stg)
        boom = F.raise_error(F.lit("boom: dim_exchange write")).cast("long")
        return df.withColumn("exchange_sk", F.coalesce(boom, F.col("exchange_sk")))

    return dim_exchange


@pytest.fixture(scope="module")
def failed_dim_run(spark, pipeline_out, tmp_path_factory):
    """One run whose dim_exchange write fails (retries=0): the raised
    error and the markers it left."""
    import os

    from lambda_lakehouse_spark.plans import stock_pipeline as sp

    _, _, batches = pipeline_out
    out = str(tmp_path_factory.mktemp("dim_fail"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sp, "dim_exchange", _failing_dim_exchange(sp.dim_exchange))
        with pytest.raises(Exception) as err:
            sp.run_pipeline_resilient(spark, batches, out, retries=0)
    markers = set(os.listdir(os.path.join(out, "_pipeline_state")))
    return out, err.value, markers


def test_failed_dim_does_not_stop_the_others(failed_dim_run):
    """The five dims run concurrently: one failing write leaves the
    other four landed with markers, marks neither itself nor the fact,
    and its own error is the one raised."""
    import os

    out, err, markers = failed_dim_run
    assert "boom: dim_exchange write" in str(err)
    done = {m.split("@")[0] for m in markers if "@" in m}
    assert done == {"dim_date", "dim_currency", "dim_trading_status", "dim_company"}
    for name in done:
        assert os.path.exists(os.path.join(out, name, "_SUCCESS"))
    assert sum(m.startswith("stg_") for m in markers) == 5


def test_resume_after_failed_dim_reruns_only_it_and_fact(
    spark, pipeline_out, failed_dim_run, monkeypatch
):
    from lambda_lakehouse_spark.plans import stock_pipeline as sp

    _, clean_out, batches = pipeline_out
    out, _, _ = failed_dim_run
    calls = []

    def counting(name):
        real = getattr(sp, name)

        def fn(*a, **kw):
            calls.append(name)
            return real(*a, **kw)

        return fn

    for name in ("dim_date", "dim_exchange", "dim_currency", "dim_trading_status",
                 "dim_company", "fact_stock_daily"):
        monkeypatch.setattr(sp, name, counting(name))
    for country in sp.STG_JOBS:
        monkeypatch.setitem(sp.STG_JOBS, country, counting(sp.STG_JOBS[country].__name__))
    tables = sp.run_pipeline_resilient(spark, batches, out, retries=0, resume=True)
    assert calls == ["dim_exchange", "fact_stock_daily"]
    clean = spark.read.parquet(f"{clean_out}/dim_exchange")
    assert sorted(tables["dim_exchange"].collect()) == sorted(clean.collect())
    clean_count = spark.read.parquet(f"{clean_out}/fact_stock_daily").count()
    assert tables["fact_stock_daily"].count() == clean_count


def test_pipeline_jobs_keep_the_callers_job_group(spark, pipeline_out, tmp_path):
    """The dim writes run on worker threads; every job the pipeline
    launches must still carry the caller's job group."""
    sc = spark.sparkContext
    _, _, batches = pipeline_out

    def jobs_of(group):
        # job events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return set(sc.statusTracker().getJobIdsForGroup(group))

    def probe(group):
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return jobs_of(group)

    group = "stock-pipeline-group-test"
    try:
        before = probe("stock-pipeline-probe-before")
        sc.setJobGroup(group, "run_pipeline")
        run_pipeline(spark, batches, str(tmp_path))
        after = probe("stock-pipeline-probe-after")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    launched = set(range(max(before) + 1, min(after)))
    assert launched
    assert launched == jobs_of(group)


def test_fully_resumed_pipeline_launches_no_job(spark, pipeline_out, tmp_path):
    """A call that skips every stage reads the store back with the
    schemas the stages were written with, so it launches no job, and
    each table keeps the schema inference gives (partition columns
    last), stg in contract order."""
    from lambda_lakehouse_spark.operators.align import align_to_contract
    from lambda_lakehouse_spark.plans import stock_pipeline as sp
    from tests.conftest import jobs_launched_by

    _, _, batches = pipeline_out
    out = str(tmp_path)
    first = sp.run_pipeline_resilient(spark, batches, out, retries=0)
    fact_rows = first["fact_stock_daily"].count()
    tables, jobs = jobs_launched_by(
        spark, lambda: sp.run_pipeline_resilient(spark, batches, out, retries=0)
    )
    assert jobs == 0
    assert tables.keys() == first.keys() and len(tables) == 7
    for name in tables:
        inferred = spark.read.parquet(f"{out}/{name}")
        if name == "stg_stock":
            assert inferred.columns[-2:] == ["country", "datadate"]
            inferred = align_to_contract(inferred, STG_CONTRACT)
        assert first[name].schema == inferred.schema, name
        assert tables[name].schema == inferred.schema, name
    assert tables["fact_stock_daily"].columns[-1] == "date_sk"
    assert tables["fact_stock_daily"].count() == fact_rows


# Staging edge cases, one raw table per country with every column a
# string (as the CSV reader with a string schema gives them): thousands
# separators, currency suffixes, "Not found", E-notation doubles,
# prior_close_price = 0, NULL exchange_overview, and empty, blank and
# NULL symbols (filtered).
STG_VN_RAW = [
    (" vcb ", "2025-10-23", "Vietcombank", "Banking", "https://vcb.vn", "1,200 people",
     "95,000 VND", "94.5k", "1.0E5", "88,350đ", "23.5%", "0.5", "-1.25", "12",
     "1,234,567", "5.5", "5,589,091,262", "HOSE", "HSX", "Active", "ACT", "NORMAL"),
    ("FPT", "2025-10-23", "FPT Corp", "Tech", None, "Not found",
     "Not found", "120.5", "128.9", "112.1", None, "1.5E-3", "2.0", "-3.5",
     "Not found", "1.2E3", "Not found", None, "HNX", "Active", "ACT", "NORMAL"),
    ("hpg", "2025-10-23", "Hoa Phat", "Steel", "https://hpg.vn", "30000",
     "25.1", "0", "26.85", "23.35", "0.21", "0", "0", "0",
     "40,000,000", None, "6,396,250,200", "HOSE", None, "Halted", "HLT", "SUSPENDED"),
    ("MSN", "2025-10-23", "Masan", "Retail", None, "40,000",
     None, None, "Not found", "-", "", "7.5E2", "", "1e3",
     "12.5", "0.75", "1.0E9", None, None, None, None, None),
    ("", "2025-10-23", "Empty Co", "X", None, "1", "1", "1", "1", "1", "0", "0", "0",
     "0", "1", "1", "1", "HOSE", None, "A", "A", "A"),
    ("   ", "2025-10-23", "Blank Co", "X", None, "1", "1", "1", "1", "1", "0", "0", "0",
     "0", "1", "1", "1", "HOSE", None, "A", "A", "A"),
    (None, "2025-10-23", "Null Co", "X", None, "1", "1", "1", "1", "1", "0", "0", "0",
     "0", "1", "1", "1", "HOSE", None, "A", "A", "A"),
]
STG_US_RAW = [
    ("msft ", "Microsoft", "Tech", "Software", "https://m.us", "Makes software.\nTwo lines.",
     "221,000", "3.1E12", "United States", "Redmond", "555", "$410.50", "415.25 USD",
     "USD", "2025-10-24"),
    ("zero", "Zero Co", "Industrial", "Widgets", None, None,
     "Not found", "1,000,000", "United States", None, None, "0", "Not found",
     "USD", "2025-10-24"),
    ("", "Empty", None, None, None, None, "1", "1", None, None, None, "1", "1",
     "USD", "2025-10-24"),
    (None, "Null", None, None, None, None, "1", "1", None, None, None, "1", "1",
     "USD", "2025-10-24"),
]
STG_JP_RAW = [
    ("7203", "Toyota", "トヨタ", "Auto", "Cars", "https://t.jp", None,
     "375,235名", "4.5E13", None, "scrape", "2,850円", "2,900.5", "JPY", "2025-10-24"),
    (" 6758 ", "Sony", "ソニー", "Tech", "Electronics", None, "Summary",
     "Not found", "1,000", "TSE", "api", "0", "3,100", "JPY", "2025-10-23"),
    ("", "Empty", None, None, None, None, None, "1", "1", "TSE", None, "1", "1",
     "JPY", "2025-10-24"),
]

# What the staging jobs gave for the raw rows above when each was a
# chain of withColumn calls, sorted by symbol. The cleaner strips every
# character but digits, '.' and '-', so an E-notation number loses its
# exponent marker ("1.0E5" -> 1.05, "1.5E-3" -> NULL): reference parity.
_D23, _D24 = dt.date(2025, 10, 23), dt.date(2025, 10, 24)
STG_PINNED = {
    "VN": [
        ("FPT", "VN", _D24, "FPT Corp", "Tech", "Tech", None, None, 144600000000.0,
         "VND", "HNX", 120.5, 120.5, 128.9, 112.1, None, "Active", "ACT", "NORMAL",
         None, 1200000000, None, None, 2.0, -3.5, None),
        ("HPG", "VN", _D24, "Hoa Phat", "Steel", "Steel", "https://hpg.vn", 30000, None,
         "VND", "HOSE", 25.1, 0.0, 26.85, 23.35, 25.1, "Halted", "HLT", "SUSPENDED",
         0.21, None, 6396250200, 0.0, 0.0, 0.0, 40000000),
        ("MSN", "VN", _D24, "Masan", "Retail", "Retail", None, 40000, None,
         "VND", None, None, None, None, None, None, None, None, None,
         None, 750000, 1, 7.52, None, 13.0, 12),
        ("VCB", "VN", _D24, "Vietcombank", "Banking", "Banking", "https://vcb.vn", 1200,
         522500000000.0, "VND", "HOSE", 95000.0, 94.5, 1.05, 88350.0, 95000.0,
         "Active", "ACT", "NORMAL", 23.5, 5500000, 5589091262, 0.5, -1.25, 12.0, 1234567),
    ],
    "US": [
        ("MSFT", "US", _D24, "Microsoft", "Tech", "Software", "https://m.us", 221000, 3.112,
         "USD", None, 415.25, 410.5, *[None] * 13),
        ("ZERO", "US", _D24, "Zero Co", "Industrial", "Widgets", None, None, 1000000.0,
         "USD", None, None, 0.0, *[None] * 13),
    ],
    "JP": [
        ("6758", "JP", _D23, "Sony", "Tech", "Electronics", None, None, 1000.0,
         "JPY", "TSE", 3100.0, 0.0, *[None] * 13),
        ("7203", "JP", _D24, "Toyota", "Auto", "Cars", "https://t.jp", 375235, 4.513,
         "JPY", None, 2900.5, 2850.0, *[None] * 13),
    ],
}
STG_SCHEMA = (
    "struct<symbol:string,country:string,datadate:date,company_name:string,"
    "sector:string,industry:string,website:string,employees:bigint,"
    "market_cap:double,currency:string,exchange:string,current_price:double,"
    "previous_close:double,ceiling:double,floor:double,ref_price:double,"
    "trading_status:string,trading_status_code:string,"
    "trading_status_group:string,foreign_percent:double,"
    "outstanding_share:bigint,issue_share:bigint,delta_in_week:double,"
    "delta_in_month:double,delta_in_year:double,avg_match_vol_2w:bigint>"
)


def _raw_frames(spark):
    """One string-typed raw frame per country, from the rows above."""
    from lambda_lakehouse_spark.sources.readers import local_rows

    def frame(header, rows):
        return local_rows(spark, rows, ", ".join(f"`{c}` string" for c in header.split(",")))

    return {
        "VN": frame(VN_HEADER, STG_VN_RAW),
        "US": frame(US_HEADER, STG_US_RAW),
        "JP": frame(JP_HEADER, STG_JP_RAW),
    }


def test_staging_jobs_give_the_pinned_rows(spark):
    """Each staging job (one filter, one projection over the raw
    columns) gives exactly the rows and the contract schema pinned
    above; only ``country`` (and ``currency`` where stamped) is
    non-nullable."""
    from lambda_lakehouse_spark.plans import stock_pipeline as sp

    for country, raw in _raw_frames(spark).items():
        stg = sp.STG_JOBS[country](raw, "2025-10-24")
        assert stg.schema.simpleString() == STG_SCHEMA, country
        stamped = {"country"} | ({"currency"} if country != "US" else set())
        assert {f.name for f in stg.schema if not f.nullable} == stamped, country
        rows = sorted(stg.collect(), key=lambda r: r.symbol)
        assert [tuple(r) for r in rows] == STG_PINNED[country], country
        if country == "VN":
            for r in rows:
                # market_cap = scaled share count × current price, both
                # derived from the raw columns
                expect = (
                    None if r.outstanding_share is None or r.current_price is None
                    else r.outstanding_share * r.current_price
                )
                assert r.market_cap == expect, r.symbol


def test_local_rows_plans_a_local_relation(spark):
    """``local_rows`` plans a JVM LocalRelation with the DDL's schema
    (no Python-row RDD), and keeps NULLs and the declared types."""
    from pyspark.sql import types as T

    from lambda_lakehouse_spark.sources.readers import local_rows

    ddl = "k string, n int, rate double, big bigint"
    rows = [("a", 1, 2.5, 2**40), (None, None, None, None)]
    df = local_rows(spark, rows, ddl)
    plan = df._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "LocalRelation"
    assert df.schema == T.StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows


def test_staging_plans_stay_within_a_py4j_budget(spark, pipeline_out):
    """Building one day's three staging plans and the stg read-back
    costs a bounded number of py4j round trips: while plans are built
    over py4j no Spark job runs. Measured here: 674, against 5,127 when
    each staging job was a withColumn chain, the contract projection
    was built from Column objects and every Column call captured its
    call site. The bound is about 1.5x the measured count."""
    import py4j.clientserver as cs

    from lambda_lakehouse_spark.plans import stock_pipeline as sp

    _, out, batches = pipeline_out
    day = [(c, raw, d) for c, raw, d in batches if d == "2025-10-24"]
    assert sorted(c for c, _, _ in day) == ["JP", "US", "VN"]
    calls = []
    real = cs.ClientServerConnection.send_command

    def counting(self, command, *a, **kw):
        calls.append(1)
        return real(self, command, *a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cs.ClientServerConnection, "send_command", counting)
        for country, raw, batch_date in day:
            sp.STG_JOBS[country](raw, batch_date)
        sp._read_stg(spark, out)
    assert 0 < len(calls) <= 1000, len(calls)
