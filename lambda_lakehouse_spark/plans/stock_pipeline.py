"""Reference-parity stock pipeline: raw CSV → stg contract → star schema.

This is the user-facing pipeline API — a user of the reference who
today submits ``airflow/dags/spark_code/{stg,curated}/*.py`` jobs
switches to these functions. Each function cites the reference job it
re-expresses (file:line into the reference); orchestration honors
the DAG fan-in (``airflow/dags/lakehouse_dags.py:100-170``:
stg per country → 5 dims in parallel → fact last). All staging
batches of one call land in one partitioned write; the five dim
writes run as concurrent Spark jobs from one thread each; the fact
runs once every dim has landed. Each table is read back with the
schema it was written with, never inferred (``run_pipeline_resilient``
gives the failure order, the marker rule and the read-back schemas).

Scale posture: each staging job is one filter and one projection (no
shuffle), every derived column read from the raw columns; each dim is
one distinct/groupBy shuffle over the stg subset of its columns; the
fact assembly broadcasts every dim (dims are small by construction —
days, exchanges, currencies, statuses, company versions) so the fact
scan never shuffles. Writes are dynamic partition overwrites, so any
(country, day) batch is re-runnable (``utils/init_spark.py:92-109``
semantics with errors raised, not swallowed — SURVEY G1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lambda_lakehouse_spark.functions.scalar import (
    as_double_clean,
    as_long_clean,
    date_sk,
    norm_sym,
    sk_crc32,
)
from lambda_lakehouse_spark.operators.align import align_to_contract
from lambda_lakehouse_spark.operators.scd2 import build_scd2
from lambda_lakehouse_spark.operators.temporal import pit_join
from lambda_lakehouse_spark.sources.readers import local_rows
from lambda_lakehouse_spark.sources.writer import write_partitioned

# The 25-column staging contract (``utils/init_spark.py:116-131``;
# FIXTURES.md §2). ``company_name_jp`` is intentionally absent —
# production drops it (SURVEY G4).
STG_CONTRACT: list[tuple[str, str]] = [
    ("symbol", "string"),
    ("country", "string"),
    ("datadate", "date"),
    ("company_name", "string"),
    ("sector", "string"),
    ("industry", "string"),
    ("website", "string"),
    ("employees", "long"),
    ("market_cap", "double"),
    ("currency", "string"),
    ("exchange", "string"),
    ("current_price", "double"),
    ("previous_close", "double"),
    ("ceiling", "double"),
    ("floor", "double"),
    ("ref_price", "double"),
    ("trading_status", "string"),
    ("trading_status_code", "string"),
    ("trading_status_group", "string"),
    ("foreign_percent", "double"),
    ("outstanding_share", "long"),
    ("issue_share", "long"),
    ("delta_in_week", "double"),
    ("delta_in_month", "double"),
    ("delta_in_year", "double"),
    ("avg_match_vol_2w", "long"),
]

# Seed data (SURVEY G9): currency display names (reference builds the
# list from pycountry + a manual VND append, ``dim_currency.py:60-66``;
# pycountry is unavailable here, so the active ISO 4217 table — public
# standard data — is seeded inline) and hard-coded FX-to-VND rates
# (``dim_currency.py:77-82``).
CURRENCY_NAMES: list[tuple[str, str]] = [
    ("AED", "UAE Dirham"), ("AFN", "Afghani"), ("ALL", "Lek"),
    ("AMD", "Armenian Dram"), ("ANG", "Netherlands Antillean Guilder"),
    ("AOA", "Kwanza"), ("ARS", "Argentine Peso"), ("AUD", "Australian Dollar"),
    ("AWG", "Aruban Florin"), ("AZN", "Azerbaijan Manat"),
    ("BAM", "Convertible Mark"), ("BBD", "Barbados Dollar"), ("BDT", "Taka"),
    ("BGN", "Bulgarian Lev"), ("BHD", "Bahraini Dinar"), ("BIF", "Burundi Franc"),
    ("BMD", "Bermudian Dollar"), ("BND", "Brunei Dollar"), ("BOB", "Boliviano"),
    ("BRL", "Brazilian Real"), ("BSD", "Bahamian Dollar"), ("BTN", "Ngultrum"),
    ("BWP", "Pula"), ("BYN", "Belarusian Ruble"), ("BZD", "Belize Dollar"),
    ("CAD", "Canadian Dollar"), ("CDF", "Congolese Franc"), ("CHF", "Swiss Franc"),
    ("CLP", "Chilean Peso"), ("CNY", "Yuan Renminbi"), ("COP", "Colombian Peso"),
    ("CRC", "Costa Rican Colon"), ("CUP", "Cuban Peso"),
    ("CVE", "Cabo Verde Escudo"), ("CZK", "Czech Koruna"),
    ("DJF", "Djibouti Franc"), ("DKK", "Danish Krone"), ("DOP", "Dominican Peso"),
    ("DZD", "Algerian Dinar"), ("EGP", "Egyptian Pound"), ("ERN", "Nakfa"),
    ("ETB", "Ethiopian Birr"), ("EUR", "Euro"), ("FJD", "Fiji Dollar"),
    ("FKP", "Falkland Islands Pound"), ("GBP", "Pound Sterling"), ("GEL", "Lari"),
    ("GHS", "Ghana Cedi"), ("GIP", "Gibraltar Pound"), ("GMD", "Dalasi"),
    ("GNF", "Guinean Franc"), ("GTQ", "Quetzal"), ("GYD", "Guyana Dollar"),
    ("HKD", "Hong Kong Dollar"), ("HNL", "Lempira"), ("HTG", "Gourde"),
    ("HUF", "Forint"), ("IDR", "Rupiah"), ("ILS", "New Israeli Sheqel"),
    ("INR", "Indian Rupee"), ("IQD", "Iraqi Dinar"), ("IRR", "Iranian Rial"),
    ("ISK", "Iceland Krona"), ("JMD", "Jamaican Dollar"), ("JOD", "Jordanian Dinar"),
    ("JPY", "Japanese Yen"), ("KES", "Kenyan Shilling"), ("KGS", "Som"),
    ("KHR", "Riel"), ("KMF", "Comorian Franc"), ("KPW", "North Korean Won"),
    ("KRW", "Won"), ("KWD", "Kuwaiti Dinar"), ("KYD", "Cayman Islands Dollar"),
    ("KZT", "Tenge"), ("LAK", "Lao Kip"), ("LBP", "Lebanese Pound"),
    ("LKR", "Sri Lanka Rupee"), ("LRD", "Liberian Dollar"), ("LSL", "Loti"),
    ("LYD", "Libyan Dinar"), ("MAD", "Moroccan Dirham"), ("MDL", "Moldovan Leu"),
    ("MGA", "Malagasy Ariary"), ("MKD", "Denar"), ("MMK", "Kyat"),
    ("MNT", "Tugrik"), ("MOP", "Pataca"), ("MRU", "Ouguiya"),
    ("MUR", "Mauritius Rupee"), ("MVR", "Rufiyaa"), ("MWK", "Malawi Kwacha"),
    ("MXN", "Mexican Peso"), ("MYR", "Malaysian Ringgit"),
    ("MZN", "Mozambique Metical"), ("NAD", "Namibia Dollar"), ("NGN", "Naira"),
    ("NIO", "Cordoba Oro"), ("NOK", "Norwegian Krone"), ("NPR", "Nepalese Rupee"),
    ("NZD", "New Zealand Dollar"), ("OMR", "Rial Omani"), ("PAB", "Balboa"),
    ("PEN", "Sol"), ("PGK", "Kina"), ("PHP", "Philippine Peso"),
    ("PKR", "Pakistan Rupee"), ("PLN", "Zloty"), ("PYG", "Guarani"),
    ("QAR", "Qatari Rial"), ("RON", "Romanian Leu"), ("RSD", "Serbian Dinar"),
    ("RUB", "Russian Ruble"), ("RWF", "Rwanda Franc"), ("SAR", "Saudi Riyal"),
    ("SBD", "Solomon Islands Dollar"), ("SCR", "Seychelles Rupee"),
    ("SDG", "Sudanese Pound"), ("SEK", "Swedish Krona"),
    ("SGD", "Singapore Dollar"), ("SHP", "Saint Helena Pound"),
    ("SLE", "Leone"), ("SOS", "Somali Shilling"), ("SRD", "Surinam Dollar"),
    ("SSP", "South Sudanese Pound"), ("STN", "Dobra"),
    ("SVC", "El Salvador Colon"), ("SYP", "Syrian Pound"), ("SZL", "Lilangeni"),
    ("THB", "Baht"), ("TJS", "Somoni"), ("TMT", "Turkmenistan New Manat"),
    ("TND", "Tunisian Dinar"), ("TOP", "Pa'anga"), ("TRY", "Turkish Lira"),
    ("TTD", "Trinidad and Tobago Dollar"), ("TWD", "New Taiwan Dollar"),
    ("TZS", "Tanzanian Shilling"), ("UAH", "Hryvnia"), ("UGX", "Uganda Shilling"),
    ("USD", "US Dollar"), ("UYU", "Peso Uruguayo"), ("UZS", "Uzbekistan Sum"),
    ("VES", "Bolivar Soberano"), ("VND", "Vietnamese Dong"), ("VUV", "Vatu"),
    ("WST", "Tala"), ("XAF", "CFA Franc BEAC"), ("XCD", "East Caribbean Dollar"),
    ("XOF", "CFA Franc BCEAO"), ("XPF", "CFP Franc"), ("YER", "Yemeni Rial"),
    ("ZAR", "Rand"), ("ZMW", "Zambian Kwacha"), ("ZWG", "Zimbabwe Gold"),
]
FX_RATES_VND: list[tuple[str, float]] = [
    ("VND", 1.0),
    ("USD", 25000.0),
    ("JPY", 170.0),
]

def _stage(raw: DataFrame, symbol: Column, cols: dict[str, Column]) -> DataFrame:
    """One staging job's plan: keep the rows whose normalized ``symbol``
    is non-empty, derive ``cols`` from the raw columns in one
    projection, then align to the contract. Every expression in
    ``cols`` reads the raw columns, never another derived one."""
    return align_to_contract(
        raw.where(symbol.isNotNull() & (symbol != ""))
        .withColumns({"symbol": symbol, **cols}),
        STG_CONTRACT,
    )


def stg_vn(raw: DataFrame, batch_date: str) -> DataFrame:
    """VN staging job (``vn_stg_processing.py:64-123``).

    VN *stamps* ``datadate`` from the batch parameter (SURVEY G7,
    ``:67``) instead of parsing it; prices arrive dirty (thousands
    separators, currency suffixes) and are regex-cleaned; the exchange
    comes from either of two ingest-merge columns (``:87-89``);
    ``outstanding_share`` is stored in millions and scaled (G6 — the
    product stays double until the contract recasts to long).

    One filter and one projection: every expression reads the raw
    columns, so the order of the derived columns does not matter and
    no value is cleaned twice (cleaning a cleaned double would strip
    the 'E' of its scientific notation). ``market_cap`` therefore
    spells out the scaled share count times the current price. The
    reference's ``price_source`` column is not derived: the contract
    drops it (G4).
    """
    cur = as_double_clean("ref_price")
    prev = as_double_clean("prior_close_price")
    current_price = F.coalesce(cur, prev)
    shares = F.col("outstanding_share").cast("double") * F.lit(1_000_000)
    return _stage(raw, norm_sym("symbol"), {
        "country": F.lit("VN"),
        "datadate": F.lit(batch_date).cast("date"),
        "sector": F.col("industry"),
        "employees": as_long_clean("no_employees"),
        "current_price": current_price,
        "ref_price": cur,
        "previous_close": prev,
        "ceiling": as_double_clean("ceiling"),
        "floor": as_double_clean("floor"),
        "foreign_percent": as_double_clean("foreign_percent"),
        "delta_in_week": as_double_clean("delta_in_week"),
        "delta_in_month": as_double_clean("delta_in_month"),
        "delta_in_year": as_double_clean("delta_in_year"),
        "avg_match_vol_2w": as_long_clean("average_match_volume2_week"),
        "outstanding_share": shares,
        "issue_share": as_long_clean("issue_share"),
        "exchange": F.coalesce(F.col("exchange_overview"), F.col("exchange_price")),
        "currency": F.lit("VND"),
        "market_cap": shares * current_price,
    })


def stg_us(raw: DataFrame, batch_date: str) -> DataFrame:
    """US staging job (``us_stg_processing.py:60-89``): ``datadate``
    parsed from the data (``to_date``, ``:68``), numerics cleaned,
    exchange left NULL (``:76``)."""
    return _stage(raw, norm_sym("symbol"), {
        "country": F.lit("US"),
        "datadate": F.to_date("datadate"),
        "employees": as_long_clean("full_time_employees"),
        "market_cap": as_double_clean("market_cap"),
        "current_price": as_double_clean("current_price"),
        "previous_close": as_double_clean("previous_close"),
        "exchange": F.lit(None).cast("string"),
    })


def stg_jp(raw: DataFrame, batch_date: str) -> DataFrame:
    """JP staging job (``jp_stg_processing.py:60-89``): symbol from
    ``ticker`` (numeric-looking codes), exchange provided by the
    source; ``company_name_jp`` is dropped by the contract (G4)."""
    return _stage(raw, norm_sym("ticker"), {
        "country": F.lit("JP"),
        "datadate": F.to_date("datadate"),
        "employees": as_long_clean("employees"),
        "market_cap": as_double_clean("market_cap"),
        "current_price": as_double_clean("current_price"),
        "previous_close": as_double_clean("previous_close"),
        "currency": F.lit("JPY"),
    })


def dim_date(stg: DataFrame) -> DataFrame:
    """Calendar dimension (``curated/dim_date.py:56-80``): distinct
    datadates → smart key + calendar parts; weekend = Sun/Sat
    (``dayofweek`` 1/7, ``:72``)."""
    return (
        stg.select(F.col("datadate").alias("date"))
        .where(F.col("date").isNotNull())
        .distinct()
        .select(
            date_sk("date").alias("date_sk"),
            "date",
            F.year("date").alias("year"),
            F.quarter("date").alias("quarter"),
            F.month("date").alias("month"),
            F.dayofmonth("date").alias("day"),
            F.weekofyear("date").alias("week_of_year"),
            F.dayofweek("date").alias("day_of_week"),
            F.dayofweek("date").isin(1, 7).alias("is_weekend"),
        )
    )


def dim_exchange(stg: DataFrame) -> DataFrame:
    """Exchange dimension (``curated/dim_exchange.py:56-75``): distinct
    (country, upper(exchange)), crc32 SK over ``code:country``."""
    return (
        stg.select(
            F.upper(F.col("exchange")).alias("exchange_code"),
            F.col("country").alias("exchange_country"),
        )
        .where(F.col("exchange_code").isNotNull())
        .distinct()
        .withColumn(
            "exchange_sk",
            sk_crc32("exchange_code", "exchange_country", sep=":"),
        )
    )


def dim_currency(spark: SparkSession, stg: DataFrame) -> DataFrame:
    """Currency dimension (``curated/dim_currency.py:57-134``): distinct
    codes from stg, display name + FX rate attached via broadcast-joined
    seed lookups (the reference's deliberate UDF replacement, §2.9),
    crc32 SK. The seeds are JVM-local tables (``local_rows``), so their
    broadcasts run no Python worker."""
    names = local_rows(
        spark, CURRENCY_NAMES, "currency_code string, currency_name string"
    )
    rates = local_rows(spark, FX_RATES_VND, "currency_code string, fx_rate_vnd double")
    base = (
        stg.select(F.col("currency").alias("currency_code"))
        .where(F.col("currency_code").isNotNull())
        .distinct()
    )
    return (
        base.join(F.broadcast(names), "currency_code", "left")
        .join(F.broadcast(rates), "currency_code", "left")
        .withColumn("currency_sk", sk_crc32("currency_code"))
    )


def dim_trading_status(stg: DataFrame) -> DataFrame:
    """Trading-status dimension (``curated/dim_trading_status.py:56-77``):
    VN-only rows (P7, ``:59``), disjunctive null guard (P6, ``:63``),
    crc32 SK over coalesced keys (``:65-67``)."""
    return (
        stg.where(F.col("country") == "VN")
        .select(
            F.col("trading_status_code").alias("status_code"),
            F.col("trading_status_group").alias("status_group"),
        )
        .where(F.col("status_code").isNotNull() | F.col("status_group").isNotNull())
        .distinct()
        .withColumn(
            "trading_status_sk",
            sk_crc32(
                F.coalesce(F.col("status_code"), F.lit("~")),
                F.coalesce(F.col("status_group"), F.lit("~")),
                sep=":",
            ),
        )
    )


COMPANY_ATTRS = ("company_name", "sector", "industry", "website", "employees")


def dim_company(stg: DataFrame, closed_boundaries: bool = True) -> DataFrame:
    """SCD2 company dimension (``curated/dim_company.py:57-110``):
    snapshots keyed (symbol, country), fingerprinted attributes,
    lag→cumsum→lead version assembly (W1-W3), crc32 SK over
    symbol||country||effective_from (``:98-99``).

    ``closed_boundaries=True`` replicates the reference's G3 boundary
    semantics (a fact dated on a version boundary matches 2 versions).
    """
    snaps = stg.where(
        F.col("symbol").isNotNull() & F.col("datadate").isNotNull()
    ).select("symbol", "country", "datadate", *COMPANY_ATTRS)
    scd2 = build_scd2(
        snaps,
        keys=("symbol", "country"),
        attrs=COMPANY_ATTRS,
        snapshot_col="datadate",
        closed_boundaries=closed_boundaries,
    )
    return scd2.withColumn(
        "company_sk",
        sk_crc32("symbol", "country", F.col("effective_from").cast("string")),
    )


def fact_stock_daily(
    stg: DataFrame,
    d_date: DataFrame,
    d_exchange: DataFrame,
    d_currency: DataFrame,
    d_status: DataFrame,
    d_company: DataFrame,
) -> DataFrame:
    """Fact assembly (``curated/fact_stock_daily.py:56-137``): measures
    with guarded pct_change + limit flags (``:78-82``), then J1-J5 —
    four broadcast left equi joins + the PIT range join J5
    (``:87-114``). Every dim is broadcast: the fact side never
    shuffles, so the plan is a single scan → project → 5 map-side
    joins, at any fact scale."""
    f = (
        stg.where(F.col("symbol").isNotNull() & F.col("datadate").isNotNull())
        .withColumns({
            "date_sk": date_sk("datadate"),
            "pct_change": F.when(
                F.col("previous_close").isNull() | (F.col("previous_close") == 0),
                F.lit(None).cast("double"),
            ).otherwise(
                (F.col("current_price") - F.col("previous_close"))
                / F.col("previous_close")
            ),
            "is_limit_up": (
                F.col("current_price").isNotNull() & F.col("ceiling").isNotNull()
            ) & (F.col("current_price") >= F.col("ceiling")),
            "is_limit_down": (
                F.col("current_price").isNotNull() & F.col("floor").isNotNull()
            ) & (F.col("current_price") <= F.col("floor")),
        })
    )
    # J1 — dim_date on the smart key
    f = f.join(F.broadcast(d_date.select("date_sk")), "date_sk", "left")
    # J2 — dim_exchange on expressions upper(exchange)=code AND country
    f = f.join(
        F.broadcast(d_exchange),
        (F.upper(f["exchange"]) == d_exchange["exchange_code"])
        & (f["country"] == d_exchange["exchange_country"]),
        "left",
    ).drop("exchange_code", "exchange_country")
    # J3 — dim_currency on the code
    f = f.join(
        F.broadcast(d_currency.select("currency_code", "currency_sk")),
        f["currency"] == d_currency["currency_code"],
        "left",
    ).drop("currency_code")
    # J4 — dim_trading_status on 2 keys (SQL semantics: null never matches)
    f = f.join(
        F.broadcast(d_status),
        (f["trading_status_code"] == d_status["status_code"])
        & (f["trading_status_group"] == d_status["status_group"]),
        "left",
    ).drop("status_code", "status_group")
    # J5 — PIT range join to the SCD2 company dimension. No broadcast
    # hint: unlike the calendar/exchange/currency/status dims (bounded
    # domains), SCD2 company versions accumulate over the years — AQE
    # broadcasts at runtime only while the dim is actually small, and
    # falls back to a shuffle join on (symbol, country) once it isn't.
    # For a permanently shuffle-free plan, bucket both sides by symbol
    # (proven in tests/test_scale.py::test_pit_join_bucketed_no_shuffle).
    f = pit_join(
        f,
        d_company.select("symbol", "country", "effective_from", "effective_to", "company_sk"),
        keys=("symbol", "country"),
        time_col="datadate",
    ).drop("effective_from", "effective_to")
    return f.select(
        "date_sk",
        "symbol",
        "country",
        "company_sk",
        "exchange_sk",
        "currency_sk",
        "trading_status_sk",
        "current_price",
        "previous_close",
        "ceiling",
        "floor",
        "ref_price",
        "pct_change",
        "is_limit_up",
        "is_limit_down",
        "market_cap",
        "employees",
        "outstanding_share",
        "issue_share",
        "foreign_percent",
        "delta_in_week",
        "delta_in_month",
        "delta_in_year",
    )


STG_JOBS = {"VN": stg_vn, "US": stg_us, "JP": stg_jp}


def _read_stg(spark: SparkSession, out_dir: str) -> DataFrame:
    """The staging table under ``out_dir``, read with the contract as its
    schema. The contract types the partition columns too; partitioned
    reads append them last, so the contract order is restored."""
    return align_to_contract(
        spark.read.schema(", ".join(f"`{c}` {t}" for c, t in STG_CONTRACT))
        .parquet(f"{out_dir}/stg_stock"),
        STG_CONTRACT,
    )


def run_pipeline(
    spark: SparkSession,
    raw_batches: list[tuple[str, DataFrame, str]],
    out_dir: str,
) -> dict[str, DataFrame]:
    """Run the full DAG for a set of (country, raw_df, batch_date)
    batches, honoring the reference's fan-in: all stg jobs → 5 dims →
    fact (``lakehouse_dags.py:100-170``). Every write is a dynamic
    partition overwrite, so re-running any batch is idempotent.
    Returns the curated DataFrames (read back from the written store).
    """
    return run_pipeline_resilient(
        spark, raw_batches, out_dir, retries=0, resume=False
    )


def run_pipeline_resilient(
    spark: SparkSession,
    raw_batches: list[tuple[str, DataFrame, str]],
    out_dir: str,
    retries: int = 2,
    retry_delay_s: float = 0.0,
    resume: bool = True,
) -> dict[str, DataFrame]:
    """``run_pipeline`` with the reference's orchestration resilience
    semantics (SURVEY §2.10): per-task retry with a fixed delay
    (``lakehouse_dags.py:22-27`` — Airflow ``retries=2`` +
    ``retry_delay``) and marker-based resume so a re-run after a crash
    skips completed stages (``python_ingestion/vnstock.py:184-244``'s
    resumable-ingest pattern, applied to the curated DAG).

    The DAG runs as the reference draws it (``lakehouse_dags.py:161-167``):
    - stg: the batches that are not skipped are unioned and written by
      ONE ``write_partitioned``, which is the retry unit (staging plans
      are rebuilt on each attempt). A ``(country, batch_date)`` given
      twice in one call keeps its last batch, as successive overwrites
      would. One write, not one per batch: concurrent writes into one
      table path share its ``_temporary`` directory, and the first
      write of a new table runs in static mode, which truncates it.
    - dims: the five plans are built (lazily) on the calling thread;
      their writes run as concurrent Spark jobs, one thread per dim,
      each with its own retry loop. Each thread inherits the caller's
      job group and tags. A dim whose plan fails to build fails
      without a retry (building does no IO). Once every dim has
      finished, the first failure in DAG order (date, exchange,
      currency, trading status, company) is raised; the dims that
      landed keep their markers.
    - fact: runs only when all five dims have landed. Like a dim's,
      its plan is built once, outside the retry loop.

    Every table is read back with an explicit schema, so the returned
    frames (and the dims the fact joins) cost no schema-inference job:
    stg with the contract (which types its partition columns too), each
    dim and the fact with its plan's schema, which its marker records
    for later calls that skip it. A fully resumed call launches no job.

    Every stage write is idempotent (dynamic partition overwrite /
    static dim overwrite), so retry-after-partial-write is safe: the
    stage re-executes and overwrites its own output. A stage's marker
    (each stg batch's, each dim's, the fact's) is committed only AFTER
    the write that carries it returns, giving at-least-once execution
    with exactly-once effect. Marker state lives under
    ``{out_dir}/_pipeline_state`` — at cluster scale that directory sits
    in the same store as the data (the same pattern as Spark's own
    ``_SUCCESS`` files); here it is plain-file IO because ``out_dir``
    is a filesystem path.

    Marker semantics (what "completed" means per stage):
    - a stg stage's identity is ``(country, batch_date)`` — re-running
      a crashed multi-batch ingest skips the batches that landed;
    - dim/fact markers are keyed by a SIGNATURE of the full stg-marker
      set, so ingesting a NEW batch into an existing ``out_dir``
      invalidates (re-keys) every downstream marker and dims/fact are
      rebuilt over the grown staging table — stale markers can never
      mask new upstream data;
    - only markers that existed BEFORE this invocation cause skips.
    """
    import hashlib
    import json
    import os
    import time
    from concurrent.futures import ThreadPoolExecutor
    from functools import reduce

    from pyspark import inheritable_thread_target

    state_dir = os.path.join(out_dir, "_pipeline_state")
    os.makedirs(state_dir, exist_ok=True)
    pre_existing = set(os.listdir(state_dir))

    def _pending(stage: str) -> bool:
        return not (resume and f"{stage}.done" in pre_existing)

    def _retried(fn) -> None:
        attempt = 0
        while True:
            try:
                fn()
                return
            except Exception:
                attempt += 1
                if attempt > retries:
                    raise
                if retry_delay_s:
                    time.sleep(retry_delay_s)

    def _mark(stage: str, schema: T.StructType | None = None) -> None:
        with open(os.path.join(state_dir, f"{stage}.done"), "w") as f:
            f.write("done\n" if schema is None else schema.json())

    def _read_back(name: str, stage: str) -> DataFrame:
        # with the schema the stage's marker recorded; a marker without
        # one (written before markers carried schemas) leaves it to
        # inference, which runs a job per read
        path = f"{out_dir}/{name}"
        with open(os.path.join(state_dir, f"{stage}.done")) as f:
            try:
                schema = T.StructType.fromJson(json.load(f))
            except ValueError:
                return spark.read.parquet(path)
        return spark.read.schema(schema).parquet(path)

    # last batch wins per (country, batch_date); dict keeps first-seen order
    stg_batches = {
        f"stg_{country}_{batch_date}": (country, raw, batch_date)
        for country, raw, batch_date in raw_batches
    }
    stg_batches = {s: b for s, b in stg_batches.items() if _pending(s)}
    if stg_batches:
        _retried(
            lambda: write_partitioned(
                reduce(
                    DataFrame.unionByName,
                    [STG_JOBS[c](raw, d) for c, raw, d in stg_batches.values()],
                ),
                f"{out_dir}/stg_stock",
                partition_by=("country", "datadate"),
            )
        )
        for stage in stg_batches:
            _mark(stage)
    # downstream marker key: every stg marker now in the store (prior
    # runs' plus this one's) — new upstream data means a new signature
    stg_sig = hashlib.md5(
        "|".join(
            sorted(m for m in os.listdir(state_dir) if m.startswith("stg_"))
        ).encode()
    ).hexdigest()[:12]

    stg = _read_stg(spark, out_dir)

    dim_builders = {
        "dim_date": lambda: dim_date(stg),
        "dim_exchange": lambda: dim_exchange(stg),
        "dim_currency": lambda: dim_currency(spark, stg),
        "dim_trading_status": lambda: dim_trading_status(stg),
        "dim_company": lambda: dim_company(stg),
    }
    built: dict[str, DataFrame] = {}
    errors: dict[str, Exception] = {}
    for name, build in dim_builders.items():
        if _pending(f"{name}@{stg_sig}"):
            try:
                built[name] = build()
            except Exception as e:
                errors[name] = e

    def _write_dim(name: str) -> None:
        _retried(lambda: built[name].write.mode("overwrite").parquet(f"{out_dir}/{name}"))
        _mark(f"{name}@{stg_sig}", built[name].schema)

    if built:
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=len(built)) as pool:
            futures = {n: pool.submit(inherit(_write_dim), n) for n in built}
        for n, f in futures.items():
            if f.exception() is not None:
                errors[n] = f.exception()
    for name in dim_builders:
        if name in errors:
            raise errors[name]
    loaded = {n: _read_back(n, f"{n}@{stg_sig}") for n in dim_builders}

    stage = f"fact_stock_daily@{stg_sig}"
    if _pending(stage):
        fact = fact_stock_daily(
            stg,
            loaded["dim_date"],
            loaded["dim_exchange"],
            loaded["dim_currency"],
            loaded["dim_trading_status"],
            loaded["dim_company"],
        )
        _retried(
            lambda: write_partitioned(
                fact, f"{out_dir}/fact_stock_daily", partition_by=("date_sk",)
            )
        )
        _mark(stage, fact.schema)
    loaded["stg_stock"] = stg
    loaded["fact_stock_daily"] = _read_back("fact_stock_daily", stage)
    return loaded
