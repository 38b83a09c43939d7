"""research_pit: a research day.  The day's data lands (the daily ingest
of ingest.py: ticks drained by streaming, a store upsert, a signal
write), then the user issues point-in-time requests, each collected to
the driver.

The requests are two of each kind per pass, always in the same order,
with seeded dates; a fixed share of the dates repeat a date requested
earlier in the run.  Per-request cost here is Python plan building,
Catalyst and job scheduling, not executor CPU.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from harness import Workload, compare, percentile
from ingest import KINDS as INGEST_KINDS
from ingest import DailyIngest

KINDS = ("universe", "cap", "section", "ret", "window", "offset",
         "date_range", "linked", "permnos", "signals")
REPEAT_SHARE = 0.3
#: each kind is requested this many times a pass, so a pass's median
#: latency does not hinge on one request per kind
ROUNDS = 2


def linear_percentiles(values: np.ndarray, probs: list[float]) -> np.ndarray:
    """Linearly interpolated percentiles at position (n - 1) * p, a tie
    between the two neighbours returning the tied value itself, as numpy's
    ``lerp`` does.  Paired permnos share a capco, so breakpoints land on
    ties; np.percentile places the position as n * p - p and DuckDB's
    quantile_cont interpolates a tie to a value one ulp off, and either
    moves a tied name across the strict ``capco > breakpoint`` test."""
    v = np.sort(values)
    out = []
    for p in probs:
        pos = (len(v) - 1) * p
        lo, hi = math.floor(pos), math.ceil(pos)
        out.append(v[lo] if v[lo] == v[hi] else (hi - pos) * v[lo] + (pos - lo) * v[hi])
    return np.asarray(out)


class ResearchPit(Workload):

    def __init__(self, meta: dict, seed: int) -> None:
        self.files = meta["files"]
        self.cal = meta["calendar"]
        self.rng = np.random.default_rng([seed, 101])
        self.used: list[tuple[int, int]] = []
        self._pd: dict[str, pd.DataFrame] = {}
        self.ingest = DailyIngest(meta["ingest"], meta["work"])

    # ----------------------------------------------------------- set-up
    def load(self, spark) -> None:
        from financial_data_science_spark.datasets import CRSP, Signals
        from financial_data_science_spark.plans.calendar import TradingCalendar

        f = self.files
        self.spark = spark
        read = spark.read.parquet
        self.crsp = CRSP(read(f["daily"]), names=read(f["names"]),
                         delist=read(f["delist"]))
        self.calendar = TradingCalendar.from_dates(read(f["calendar"]))
        self.crsp.calendar = self.calendar
        self.events = read(f["events"])
        self.links = read(f["links"])
        self.fund = read(f["fund"])
        self.signals = Signals(f["signals"])
        self.ingest.start(spark)
        self.crsp.daily.count()

    def stop(self) -> None:
        self.ingest.stop()

    def stream_groups(self) -> list[str]:
        return self.ingest.groups()

    def max_passes(self) -> int:
        return len(self.ingest.meta["day_files"])

    # ------------------------------------------------------------ passes
    def _dates(self) -> tuple[int, int]:
        """(date, the trading day 25 days earlier).  A share of the dates
        repeat one already requested in this run."""
        if self.used and self.rng.random() < REPEAT_SHARE:
            return self.used[int(self.rng.integers(0, len(self.used)))]
        i = int(self.rng.integers(30, len(self.cal) - 10))
        self.used.append((self.cal[i], self.cal[i - 25]))
        return self.used[-1]

    def run_pass(self, rec, index: int) -> None:
        from pyspark.sql import functions as F

        from financial_data_science_spark.datasets import get_linked, get_permnos

        crsp, cal, spark = self.crsp, self.calendar, self.spark
        collect = lambda df: df.toPandas()  # noqa: E731
        self.ingest.run_day(rec, index)
        # the shape of every request (window length, offset, frequency,
        # label) follows the pass, not the seed: seeds differ only in dates
        n = 1 + index % 5
        for kind in KINDS * ROUNDS:
            date, beg = self._dates()
            key = f"{kind}:{date}:{beg}:{n}"
            if kind == "universe":
                rec.op("datasets", "CRSP.get_universe", key,
                       lambda: crsp.get_universe(date), collect)
            elif kind == "cap":
                rec.op("datasets", "CRSP.get_cap", key,
                       lambda: crsp.get_cap(date), collect)
            elif kind == "section":
                rec.op("datasets", "CRSP.get_section", key,
                       lambda: crsp.get_section("daily", ["prc", "ret"], date),
                       collect)
            elif kind == "ret":
                rec.op("datasets", "CRSP.get_ret", key,
                       lambda: crsp.get_ret(beg, date), collect)
            elif kind == "window":
                ev = self.events.filter(F.col("announcedate").between(beg, date))
                rec.op("datasets", "CRSP.get_window", key,
                       lambda: crsp.get_window("daily", "ret", ev, -2, n,
                                               event_date="announcedate"),
                       collect)
            elif kind == "offset":
                ev = self.events.filter(F.col("announcedate").between(beg, date))
                rec.op("plans", "TradingCalendar.offset", key,
                       lambda: cal.offset(ev, "announcedate", n - 3), collect)
            elif kind == "date_range":
                freq = ("daily", "week", "month")[n % 3]
                rec.op("plans", "TradingCalendar.date_range", key,
                       lambda: cal.date_range(beg, date, freq), collect)
            elif kind == "linked":
                data = self.fund.filter(F.col("datadate").between(beg - 10000, date))
                rec.op("datasets", "get_linked", key,
                       lambda: get_linked(data, self.links, "datadate"), collect)
            elif kind == "permnos":
                keys = self.fund.select("gvkey").distinct().filter(
                    F.col("gvkey") % 5 == n % 5)
                rec.op("datasets", "get_permnos", key,
                       lambda: get_permnos(keys, self.links, date), collect)
            elif kind == "signals":
                label = ("mom", "rev")[n % 2]
                rec.op("datasets", "Signals.__call__", key,
                       lambda: self.signals(spark, label, date, beg), collect)

    def latencies(self, rec) -> list[float]:
        return [r.ms for r in rec.results if r.key.split(":")[0] in KINDS]

    def close(self, rec) -> tuple[dict, dict]:
        ms = self.latencies(rec)
        e2e, layers = self.ingest.metrics()
        return {"request_ms_p50": percentile(ms, 50),
                "request_ms_p90": percentile(ms, 90), **e2e}, layers

    # ----------------------------------------------------------- oracles
    def _table(self, name: str) -> pd.DataFrame:
        if name not in self._pd:
            self._pd[name] = pd.read_parquet(self.files[name])
        return self._pd[name]

    @staticmethod
    def _last(df: pd.DataFrame, key: str, date_col: str) -> pd.DataFrame:
        return df.sort_values([key, date_col]).groupby(key, as_index=False).tail(1)

    def _section(self, date: int) -> pd.DataFrame:
        d = self._table("daily")
        return self._last(d[d["date"] <= date], "permno", "date")

    def _cal_shift(self, dates: pd.Series, n: int) -> pd.Series:
        cal = self.cal
        pos = {d: i for i, d in enumerate(cal)}
        return dates.map(lambda d: cal[pos[d] + n]
                         if 0 <= pos[d] + n < len(cal) else None)

    def expected(self, key: str):
        kind, date, beg, n = key.split(":")
        date, beg, n = int(date), int(beg), int(n)
        if kind == "section":
            return self._section(date)[["permno", "date", "prc", "ret"]], ["permno"]
        if kind == "cap":
            s = self._section(date).copy()
            s["cap"] = s["prc"].abs() * s["shrout"]
            return s[["permno", "date", "prc", "shrout", "cap"]], ["permno"]
        if kind == "universe":
            s = self._section(date).copy()
            s["cap"] = s["prc"].abs() * s["shrout"]
            nm = self._table("names")
            nm = self._last(nm[nm["date"] <= date], "permno", "date")
            u = s.merge(nm[["permno", "shrcd", "exchcd", "permco"]], on="permno")
            u["capco"] = u.groupby("permco")["cap"].transform("sum")
            u = u[u.shrcd.isin([10, 11]) & u.exchcd.isin([1, 2, 3])
                  & (u.cap > 0) & (u.capco > 0)].copy()
            u["capco"] = u["capco"].round(6)
            br = linear_percentiles(u.loc[u.exchcd == 1, "capco"].to_numpy(),
                                    [p / 10 for p in range(1, 10)])
            u["decile"] = 10 - (u["capco"].to_numpy()[:, None] > br[None, :]).sum(1)
            return u[["permno", "cap", "capco", "decile"]], ["permno"]
        if kind == "ret":
            d = self._table("daily")
            d = d[(d["date"] >= beg) & (d["date"] <= date)]
            g = d.groupby("permno")["ret"]
            out = (g.apply(lambda r: np.prod(1 + r.dropna()) - 1 if r.notna().any()
                           else np.nan)).reset_index()
            return out, ["permno"]
        if kind in ("window", "offset"):
            ev = self._table("events")
            ev = ev[ev["announcedate"].between(beg, date)]
            if kind == "offset":
                out = ev.copy()
                out["announcedate"] = self._cal_shift(ev["announcedate"], n - 3)
                return out, ["permno", "announcedate"]
            d = self._table("daily").set_index(["permno", "date"])["ret"]
            rows = []
            for p, a in ev.itertuples(index=False):
                for rel in range(-2, n + 1):
                    rd = self._cal_shift(pd.Series([a]), rel).iloc[0]
                    rows.append((p, a, rel, d.get((p, rd), np.nan)))
            out = pd.DataFrame(rows, columns=["permno", "announcedate", "rel", "ret"])
            return out, ["permno", "announcedate", "rel"]
        if kind == "date_range":
            freq = ("daily", "week", "month")[n % 3]
            cal = pd.Series(self.cal)
            dt = pd.to_datetime(cal.astype(str))
            if freq == "week":
                period = dt.dt.to_period("W-SUN")
            elif freq == "month":
                period = dt.dt.to_period("M")
            else:
                period = pd.Series(range(len(cal)))
            ends = cal.groupby(period.to_numpy()).transform("max") == cal
            out = cal[ends & cal.between(beg, date)]
            return pd.DataFrame({"date": out.to_numpy()}), ["date"]
        if kind in ("linked", "permnos"):
            lk = self._table("links")
            lk = lk[lk.linktype.isin(["LC", "LU"]) & (lk.lpermno > 0)]
            fund = self._table("fund")
            if kind == "linked":
                data = fund[fund["datadate"].between(beg - 10000, date)]
                dcol = "datadate"
            else:
                keys = fund[["gvkey"]].drop_duplicates()
                data = keys[keys.gvkey % 5 == n % 5].assign(__d__=date)
                dcol = "__d__"
            m = data.merge(lk, on="gvkey", how="left")
            m = m[m["linkdt"].isna() | (m["linkdt"] <= m[dcol])]
            m = m.sort_values(["linkdt", "lpermno"]).groupby(
                list(data.columns), as_index=False).tail(1)
            out = data.merge(m, on=list(data.columns), how="left")
            ok = (out.linkenddt == 0) | (out.linkenddt >= out[dcol])
            out["lpermno"] = out["lpermno"].where(ok)
            if kind == "permnos":
                out["lpermno"] = out["lpermno"].fillna(0)
                return out[["gvkey", "lpermno"]], ["gvkey"]
            return out[["gvkey", "datadate", "sales", "lpermno"]], ["gvkey", "datadate"]
        if kind == "signals":
            label = ("mom", "rev")[n % 2]
            s = pd.read_parquet(f"{self.files['signals']}/label={label}")
            s = s[(s.rebaldate > beg) & (s.rebaldate <= date)]
            s = self._last(s, "permno", "rebaldate").rename(columns={"value": label})
            return s, ["permno"]
        raise KeyError(kind)

    def check(self, key: str, value) -> str | None:
        if key.split(":")[0] in INGEST_KINDS:
            return self.ingest.check(key, value)
        want, keys = self.expected(key)
        return compare(value, want.reset_index(drop=True), keys)
