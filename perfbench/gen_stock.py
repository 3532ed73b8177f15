"""Seeded raw-zone generator for the ``etl_daily`` workload.

Writes one CSV per country per trading day in the shape the reference
ingests (header lists and edge cases follow FIXTURES.md section 1 and
``tests/test_stock_pipeline.py``): a UTF-8 BOM, multiline quoted
business summaries, commas and quotes inside names, dirty numerics
("1,234", "$12.50", "Not found"), empty-symbol rows that staging must
drop, ``previous_close = 0`` rows and a low daily rate of SCD2
attribute changes.

Daily volumes default to the reference's: about 1,600 VN, 6,751 US and
4,413 JP records (BASELINE.md). A ``Market`` keeps each company's
attribute state across days, so it also knows exactly which rows are
valid and on which days a company's SCD2 version changes: the
invariants the benchmark checks after the pipeline ran.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import zlib

import numpy as np

DAILY_ROWS = {"VN": 1600, "US": 6751, "JP": 4413}
INVALID_PER_DAY = {"VN": 6, "US": 12, "JP": 9}
CHURN_PER_DAY = 0.004  # share of companies whose SCD2 attributes change
FIRST_DAY = dt.date(2025, 1, 2)

VN_HEADER = [
    "symbol", "datadate", "company_name", "industry", "website", "no_employees",
    "ref_price", "prior_close_price", "ceiling", "floor", "foreign_percent",
    "delta_in_week", "delta_in_month", "delta_in_year",
    "average_match_volume2_week", "outstanding_share", "issue_share",
    "exchange_overview", "exchange_price", "trading_status",
    "trading_status_code", "trading_status_group",
]
US_HEADER = [
    "symbol", "company_name", "sector", "industry", "website",
    "business_summary", "full_time_employees", "market_cap", "country", "city",
    "phone", "previous_close", "current_price", "currency", "datadate",
]
JP_HEADER = [
    "ticker", "company_name", "company_name_jp", "sector", "industry",
    "website", "business_summary", "employees", "market_cap", "exchange",
    "method", "previous_close", "current_price", "currency", "datadate",
]
HEADERS = {"VN": VN_HEADER, "US": US_HEADER, "JP": JP_HEADER}
COUNTRIES = ("VN", "US", "JP")

_WORDS = (
    "market leading provider of integrated solutions for industrial "
    "consumer financial healthcare energy logistics software services "
    "products customers worldwide through subsidiaries segments including "
    "manufacturing distribution retail digital platforms research and "
    "development operations headquartered founded company group holdings"
).split()
_SECTORS = [
    "Technology", "Financial Services", "Healthcare", "Industrials",
    "Consumer Cyclical", "Energy", "Utilities", "Real Estate",
    "Basic Materials", "Communication Services",
]
_INDUSTRIES = [f"Industry {i:02d}" for i in range(60)]
_VN_EXCHANGES = ["HOSE", "HNX", "UPCOM", "hose"]
_JP_EXCHANGES = ["TSE", "Prime", "Standard", "Growth", "tse"]
_VN_STATUS = [("Active", "ACT", "NORMAL"), ("Halted", "HLT", "SUSPENDED"),
              ("Warning", "WRN", "WATCH"), ("", "", "")]
_JP_NAME_CHARS = "株式会社日本電気工業自動車銀行商事製薬食品化学"


def trading_days(n: int) -> list[str]:
    """The first ``n`` weekdays from ``FIRST_DAY`` as ISO strings."""
    out, d = [], FIRST_DAY
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d.isoformat())
        d += dt.timedelta(days=1)
    return out


def _symbols(rng: np.random.Generator, country: str, n: int) -> list[str]:
    if country == "JP":
        codes = rng.choice(np.arange(1000, 10000), size=n, replace=False)
        return [str(c) for c in codes]
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    width = 3 if country == "VN" else 4
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        s = "".join(rng.choice(letters, size=int(rng.integers(width - 1, width + 1))))
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


class Market:
    """Company universe plus per-day attribute and price state for one
    seed. ``day_csv(country, i)`` is a pure function of (seed, country,
    i) as long as days are requested in order, which the benchmark does.
    """

    def __init__(self, seed: int, rows: dict[str, int] | None = None):
        self.seed = seed
        self.rows = dict(rows or DAILY_ROWS)
        self.companies: dict[str, list[dict]] = {}
        self.price: dict[str, np.ndarray] = {}
        self.changes: dict[tuple[str, int], int] = {}
        self.valid: dict[tuple[str, int], int] = {}
        self._next_day = {c: 0 for c in COUNTRIES}
        for ci, country in enumerate(COUNTRIES):
            rng = self._rng(ci, -1)
            n = self.rows[country]
            syms = _symbols(rng, country, n)
            words = [_WORDS[i] for i in rng.integers(0, len(_WORDS), n * 200).tolist()]
            lengths = rng.integers(60, 200, n).tolist()
            jp = [_JP_NAME_CHARS[i] for i in rng.integers(0, len(_JP_NAME_CHARS), n * 6).tolist()]
            comps = []
            for k, sym in enumerate(syms):
                summary = " ".join(words[k * 200:k * 200 + lengths[k]])
                # a third of the summaries span lines and carry quotes
                if k % 3 == 0:
                    cut = len(summary) // 2
                    summary = f'{summary[:cut]}\n"{summary[cut:]}", Inc.'
                comps.append({
                    "symbol": sym,
                    # a few VN symbols arrive padded and lower-case
                    "raw_symbol": f" {sym.lower()} " if country == "VN" and k % 97 == 0 else sym,
                    "name": f"{sym} Holdings, Ltd" if k % 7 == 0 else f"{sym} Corp",
                    "name_jp": "".join(jp[k * 6:k * 6 + 6]),
                    "sector": _SECTORS[int(rng.integers(len(_SECTORS)))],
                    "industry": _INDUSTRIES[int(rng.integers(len(_INDUSTRIES)))],
                    "website": f"https://{sym.lower()}.example",
                    "summary": summary,
                    "employees": int(rng.integers(10, 200_000)),
                    # placeholder employees stay placeholders: the cleaned
                    # value (NULL) is part of the SCD2 fingerprint
                    "emp_missing": bool(rng.random() < 0.03),
                    "exchange": (_VN_EXCHANGES if country == "VN" else _JP_EXCHANGES)[
                        int(rng.integers(4))
                    ],
                    "shares": round(float(rng.uniform(1, 5000)), 2),
                })
            self.companies[country] = comps
            self.price[country] = rng.uniform(5, 500, size=n).round(2)

    def _rng(self, country_idx: int, day: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, country_idx, day + 1])

    def day_csv(self, country: str, day: int, date: str) -> bytes:
        """Render one country's raw CSV for trading day ``day``."""
        if day != self._next_day[country]:
            raise ValueError(f"{country} days must be generated in order")
        self._next_day[country] += 1
        ci = COUNTRIES.index(country)
        rng = self._rng(ci, day)
        comps = self.companies[country]
        n = len(comps)
        changed = 0
        if day > 0:
            for k in np.flatnonzero(rng.random(n) < CHURN_PER_DAY):
                c = comps[int(k)]
                if rng.random() < 0.5 and not c["emp_missing"]:
                    c["employees"] += int(rng.integers(1, 500))
                else:
                    c["industry"] = _INDUSTRIES[
                        (_INDUSTRIES.index(c["industry"]) + 1) % len(_INDUSTRIES)
                    ]
                changed += 1
        self.changes[(country, day)] = changed
        prev = self.price[country]
        cur = (prev * rng.uniform(0.95, 1.05, size=n)).round(2)
        self.price[country] = cur
        fmt = rng.integers(0, 10, size=n)
        zero_prev = rng.random(n) < 0.004

        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(HEADERS[country])
        for k, c in enumerate(comps):
            p_prev = "0" if zero_prev[k] else _dirty_price(prev[k], int(fmt[k]))
            p_cur = _dirty_price(cur[k], int(fmt[k]) + 1)
            emp = "Not found" if c["emp_missing"] else _dirty_int(c["employees"], int(fmt[k]))
            w.writerow(_row(country, c, date, p_prev, p_cur, emp, cur[k], rng))
        invalid = INVALID_PER_DAY[country]
        for j in range(invalid):
            bad = dict(comps[j % n], raw_symbol="" if j % 2 else " ")
            w.writerow(_row(country, bad, date, "1", "1", "1", 1.0, rng))
        self.valid[(country, day)] = n
        return ("\ufeff" + buf.getvalue()).encode("utf-8")


def _dirty_price(v: float, style: int) -> str:
    if style % 10 == 0:
        return f"{v:,.2f}"
    if style % 10 == 1:
        return f"${v:.2f}"
    if style % 10 == 2:
        return f"{v:.2f} USD"
    return f"{v:.2f}"


def _dirty_int(v: int, style: int) -> str:
    if style % 4 == 0:
        return f"{v:,d}"
    if style % 4 == 1:
        return f"{v} people"
    return str(v)


def _row(country, c, date, p_prev, p_cur, emp, cur, rng) -> list[str]:
    if country == "VN":
        status = _VN_STATUS[zlib.crc32(c["symbol"].encode()) % 3 if c["symbol"] else 3]
        ex = c["exchange"]
        ex_over, ex_price = (ex, "") if len(c["symbol"]) % 2 else ("", ex)
        return [
            c["raw_symbol"], date, c["name"], c["industry"], c["website"], emp,
            p_cur, p_prev, f"{cur * 1.07:.2f}", f"{cur * 0.93:.2f}",
            f"{rng.uniform(0, 49):.2f}%", f"{rng.normal(0, 3):.2f}",
            f"{rng.normal(0, 6):.2f}", f"{rng.normal(0, 20):.2f}",
            f"{int(rng.integers(100, 5_000_000)):,d}", f"{c['shares']:.2f}",
            str(int(c["shares"] * 1_000_000)), ex_over, ex_price, *status,
        ]
    summary = c["summary"]
    mcap = _dirty_int(int(cur * c["shares"] * 1000), 0)
    if country == "US":
        return [
            c["raw_symbol"], c["name"], c["sector"], c["industry"], c["website"],
            summary, emp, mcap, "United States", "New York", "+1 555 0100",
            p_prev, p_cur, "USD", date,
        ]
    return [
        c["raw_symbol"], c["name"], c["name_jp"], c["sector"], c["industry"],
        c["website"], summary, emp, mcap, c["exchange"], "scrape", p_prev,
        p_cur, "JPY", date,
    ]


def write_day(market: Market, day: int, date: str, out_dir: str) -> dict[str, str]:
    """Write the three country CSVs of one day; returns country → path."""
    paths = {}
    for country in COUNTRIES:
        d = os.path.join(out_dir, country.lower())
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{date}.csv")
        with open(p, "wb") as f:
            f.write(market.day_csv(country, day, date))
        paths[country] = p
    return paths


def expected_fact_rows(market: Market, day: int) -> int:
    """Fact rows the pipeline must hold for trading day ``day``: one per
    valid stg row, plus one more per company whose SCD2 version changed
    that day (closed-boundary point-in-time join, SURVEY G3)."""
    return sum(
        market.valid[(c, day)] + (market.changes[(c, day)] if day > 0 else 0)
        for c in COUNTRIES
    )
