"""backtest_panel: the loop-free whole-panel pipelines, one of each per pass.

A pass runs the signal-sort backtest (univariate_sorts -> portfolio_returns
-> turnover -> performance_attribution), the event study completed as its
corrected statistics, Fama-MacBeth, daily performance, winsorize and fractile_split
on the signal, PageRank on the supplier graph and minimum-variance weights.
Shuffles, windows, compounding and iterative recipes do the work, not
per-request planning; at this panel size each pipeline is still dozens of
small jobs, so job scheduling outweighs executor CPU.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from harness import Workload, compare

LEFT, RIGHT, POST, RHO = -1, 5, 10, 0.3
DECILES = "[0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]"
N_ASSETS = 12  # names in the minimum-variance portfolio
PAGERANK_ITERS = 6


class BacktestPanel(Workload):

    def __init__(self, meta: dict, seed: int) -> None:
        self.files = meta["files"]
        self.cal = meta["calendar"]
        self._pd: dict[str, pd.DataFrame] = {}
        self.assets = sorted(pd.read_parquet(self.files["universe"], columns=["permno"])
                             ["permno"].unique()[:N_ASSETS].tolist())

    def load(self, spark) -> None:
        from financial_data_science_spark.plans.calendar import TradingCalendar

        read = spark.read.parquet
        f = self.files
        self.spark = spark
        self.daily = read(f["daily"])
        self.market = read(f["market"])
        self.universe = read(f["universe"])
        self.signal = read(f["signal"])
        self.intervals = read(f["intervals"])
        self.events = read(f["events"])
        self.edges = read(f["edges"])
        self.calendar = TradingCalendar.from_dates(read(f["calendar"]))
        self.daily.count()

    def run_pass(self, rec, index: int) -> None:
        from pyspark.sql import functions as F

        from financial_data_science_spark.backtesting import (
            event_study, performance_attribution, portfolio_returns, turnover,
            univariate_sorts)
        from financial_data_science_spark.backtesting.dailyperformance import (
            daily_performance)
        from financial_data_science_spark.backtesting.eventstudy import corrected_stats
        from financial_data_science_spark.backtesting.riskpremium import fama_macbeth
        from financial_data_science_spark.functions.econs import (
            covariance_matrix, min_variance_weights)
        from financial_data_science_spark.functions.graph import pagerank
        from financial_data_science_spark.operators import (
            compound_intervals, fractile_split, winsorize)

        collect = lambda df: df.toPandas()  # noqa: E731
        # each frame is built inside its call, so plan building is timed;
        # later calls reuse it lazily, as a chained user script does
        df: dict[str, object] = {}

        def keep(name, build):
            return lambda: df.setdefault(name, build())

        rec.op("backtesting", "univariate_sorts", "univariate_sorts",
               keep("holdings", lambda: univariate_sorts(
                   self.universe, self.signal, key_filter=F.col("exchcd") == 1)),
               collect)
        rec.op("backtesting", "portfolio_returns", "portfolio_returns",
               keep("port", lambda: portfolio_returns(
                   df["holdings"], self.daily, self.intervals)), collect)
        rec.op("backtesting", "turnover", "turnover",
               lambda: turnover(df["holdings"]), collect)
        bench = self.market.select("date", F.col("mktret").alias("ret"))
        rec.op("backtesting", "performance_attribution", "performance_attribution",
               lambda: performance_attribution(
                   df["port"].select(F.col("end").alias("date"),
                                     F.col("ret").alias("excess")),
                   bench, mult=12.0), collect)
        # event_study's CAR/BHAR frame completes as the corrected statistics
        rec.op("backtesting", "event_study", "event_study_corrected",
               lambda: event_study(self.events, self.daily, self.market,
                                   self.calendar, left=LEFT, right=POST),
               lambda r: collect(corrected_stats(
                   r[0], self.calendar, LEFT, RIGHT, POST,
                   ["permno", "announcedate"], value="car", rho=RHO)))
        rec.op("backtesting", "fama_macbeth", "fama_macbeth",
               lambda: fama_macbeth(self.signal.join(
                   compound_intervals(self.daily, self.intervals, "permno",
                                      alias="pret")
                   .select(F.col("beg").alias("rebaldate"), "permno", "pret"),
                   ["rebaldate", "permno"]), "value", ret_col="pret"),
               lambda r: collect(r[1]))
        rec.op("backtesting", "daily_performance", "daily_performance",
               lambda: daily_performance(
                   df["holdings"].select("rebaldate", "permno", "weight"), self.daily),
               collect)
        rec.op("operators", "winsorize", "winsorize",
               lambda: winsorize(self.signal, "value", exact=True), collect)
        rec.op("operators", "fractile_split", "fractile_split",
               lambda: fractile_split(self.signal, "value", exact=True), collect)
        rec.op("functions", "graph.pagerank", "pagerank",
               lambda: pagerank(self.edges, max_iter=PAGERANK_ITERS), collect)
        wide = (self.daily.filter(F.col("permno").isin(self.assets))
                .groupBy("date").pivot("permno", self.assets).agg(F.first("ret")))
        cols = [str(a) for a in self.assets]
        rec.op("functions", "econs.min_variance_weights", "min_variance",
               lambda: covariance_matrix(wide, cols), min_variance_weights)

    # ----------------------------------------------------------- oracles
    def _t(self, name: str) -> pd.DataFrame:
        if name not in self._pd:
            self._pd[name] = pd.read_parquet(self.files[name])
        return self._pd[name]

    def _holdings(self) -> pd.DataFrame:
        u, s = self._t("universe"), self._t("signal")  # noqa: F841 - duckdb scope
        return duckdb.sql(f"""
            WITH j AS (SELECT * FROM u JOIN s USING (rebaldate, permno)),
            bp AS (SELECT rebaldate,
                          quantile_cont(value, {DECILES}) FILTER (WHERE exchcd = 1) AS b
                   FROM j GROUP BY 1),
            f AS (SELECT j.*, 1 + len(list_filter(bp.b, x -> j.value > x)) AS fractile
                  FROM j JOIN bp USING (rebaldate)),
            sd AS (SELECT *, CASE WHEN fractile = 10 THEN 1 ELSE -1 END AS side
                   FROM f WHERE fractile IN (1, 10))
            SELECT rebaldate, permno, fractile, side,
                   side * cap / sum(cap) OVER (PARTITION BY rebaldate, side) AS weight
            FROM sd""").df()

    def _pret(self) -> pd.DataFrame:
        d, i = self._t("daily"), self._t("intervals")  # noqa: F841
        return duckdb.sql("""
            SELECT i.beg, i."end", d.permno, product(1 + d.ret) - 1 AS pret
            FROM d JOIN i ON d.date > i.beg AND d.date <= i."end"
            GROUP BY 1, 2, 3""").df()

    def _port(self) -> pd.DataFrame:
        h, p = self._holdings(), self._pret()  # noqa: F841
        return duckdb.sql("""
            SELECT p.beg, p."end", sum(h.weight * coalesce(p.pret, 0)) AS ret,
                   count(*) AS n_holdings
            FROM h JOIN p ON h.rebaldate = p.beg AND h.permno = p.permno
            GROUP BY 1, 2""").df()

    def _event_cb(self) -> pd.DataFrame:
        cal = self.cal
        pos = {d: i for i, d in enumerate(cal)}
        ret = self._t("daily").set_index(["permno", "date"])["ret"]
        mkt = self._t("market").set_index("date")["mktret"]
        rows = []
        for p, a in self._t("events").itertuples(index=False):
            for rel in range(LEFT, POST + 1):
                d = cal[pos[a] + rel]
                r = ret.get((p, d), np.nan)
                ar = (0.0 if pd.isna(r) else r) - mkt.get(d, 0.0)
                rows.append((p, a, rel, ar))
        ab = pd.DataFrame(rows, columns=["permno", "announcedate", "rel", "ar"])
        ab = ab.sort_values(["permno", "announcedate", "rel"])
        g = ab.groupby(["permno", "announcedate"])
        ab["car"] = g["ar"].cumsum()
        ab["bhar"] = (1 + ab["ar"]).groupby([ab.permno, ab.announcedate]).cumprod() - 1
        return ab

    def expected(self, key: str):
        if key == "univariate_sorts":
            return self._holdings(), ["rebaldate", "permno"]
        if key == "portfolio_returns":
            return self._port(), ["beg"]
        if key == "turnover":
            h = self._holdings()
            dates = sorted(h.rebaldate.unique())
            rows = []
            for i, d in enumerate(dates):
                cur = h[h.rebaldate == d].set_index("permno")["weight"]
                prev = (h[h.rebaldate == dates[i - 1]].set_index("permno")["weight"]
                        if i else pd.Series(dtype=float))
                w, pw = cur.align(prev, fill_value=0.0)
                delta = w - pw
                rows.append((d, delta[delta > 0].sum() if (delta > 0).any() else np.nan,
                             -delta[delta < 0].sum() if (delta < 0).any() else np.nan,
                             int((w > 0).sum()), int((w < 0).sum())))
            return pd.DataFrame(rows, columns=["rebaldate", "buys", "sells",
                                               "n_long", "n_short"]), ["rebaldate"]
        if key == "performance_attribution":
            j = self._port().merge(self._t("market"), left_on="end", right_on="date")
            y, x = j["ret"].to_numpy(), j["mktret"].to_numpy()
            beta = np.cov(y, x, bias=True)[0, 1] / np.var(x)
            alpha = y.mean() - beta * x.mean()
            r = np.corrcoef(y, x)[0, 1]
            out = pd.DataFrame([{
                "n": len(y), "excess": 12 * y.mean(),
                "sharpe": np.sqrt(12) * y.mean() / y.std(ddof=1),
                "alpha": 12 * alpha, "beta": beta,
                "appraisal": np.sqrt(12) * alpha / np.sqrt(np.var(y) * (1 - r * r)),
            }])
            return out, ["n"]
        if key == "event_study_corrected":
            cb = self._event_cb()
            port = cb.groupby(["announcedate", "rel"])["car"].mean().unstack()
            vr, vp = port[RIGHT], port[POST]
            n = len(vr)
            pos = {d: i for i, d in enumerate(self.cal)}
            dn = np.sort([pos[d] for d in port.index])
            D = POST - RIGHT
            pairs = [max(D - (dn[j] - dn[i]), 0) for i in range(n) for j in range(i + 1, n)]
            tau = np.mean(pairs) / D
            eff = n / (1 + RHO * tau * (n - 1))
            out = pd.DataFrame([{
                "window_mean": vr.mean(), "window_t": vr.mean() / (vr.std() / np.sqrt(eff)),
                "post_mean": (vp - vr).mean(),
                "post_t": (vp - vr).mean() / ((vp - vr).std() / np.sqrt(eff)),
                "tau": tau, "effective": eff, "n_dates": n,
                "n_events": len(self._t("events")),
            }])
            return out, ["n_dates"]
        if key == "fama_macbeth":
            p = self._t("signal").merge(
                self._pret().rename(columns={"beg": "rebaldate"}),
                on=["rebaldate", "permno"])
            g = p.groupby("rebaldate")["value"]
            p["value"] = (p["value"] - g.transform("mean")) / g.transform("std")
            p = p.dropna(subset=["value", "pret"])
            slopes = p.groupby("rebaldate").apply(
                lambda q: np.cov(q["pret"], q["value"])[0, 1] / np.var(q["value"], ddof=1))
            out = pd.DataFrame([{
                "n_dates": len(slopes), "mean": slopes.mean(), "std": slopes.std(),
                "sem": slopes.std() / np.sqrt(len(slopes)),
                "tstat": slopes.mean() / (slopes.std() / np.sqrt(len(slopes))),
            }])
            return out, ["n_dates"]
        if key == "daily_performance":
            h = self._holdings()[["rebaldate", "permno", "weight"]]
            d = self._t("daily")
            d = d[d.date > h.rebaldate.min()].copy()
            rebals = np.sort(h.rebaldate.unique())
            d["rebaldate"] = rebals[np.searchsorted(rebals, d.date.to_numpy()) - 1]
            d = d.sort_values(["permno", "rebaldate", "date"])
            gr = (1 + d["retx"].fillna(0.0)).groupby([d.permno, d.rebaldate])
            d["drift"] = gr.cumprod() / (1 + d["retx"].fillna(0.0))
            j = d.merge(h, on=["rebaldate", "permno"])
            j["c"] = j.weight * j.drift * j.ret.fillna(0.0)
            return j.groupby("date", as_index=False)["c"].sum().rename(
                columns={"c": "ret"}), ["date"]
        if key in ("winsorize", "fractile_split"):
            s = self._t("signal").copy()
            if key == "winsorize":
                lo, hi = duckdb.sql("SELECT quantile_cont(value, [0.025, 0.975])"
                                    " FROM s").fetchone()[0]
                s["value"] = s["value"].clip(lo, hi)
                return s, ["rebaldate", "permno"]
            br = np.asarray(duckdb.sql(f"SELECT quantile_cont(value, {DECILES}) FROM s")
                            .fetchone()[0])
            s["fractile"] = 1 + (s["value"].to_numpy()[:, None] > br[None, :]).sum(1)
            return s, ["rebaldate", "permno"]
        if key == "pagerank":
            e = self._t("edges")
            ids = np.union1d(e.src, e.dst)
            idx = {v: i for i, v in enumerate(ids)}
            n = len(ids)
            src = e.src.map(idx).to_numpy()
            dst = e.dst.map(idx).to_numpy()
            outdeg = np.bincount(src, minlength=n)
            r = np.full(n, 1.0 / n)
            for _ in range(PAGERANK_ITERS):
                r = (1 - 0.85) / n + 0.85 * np.bincount(
                    dst, weights=r[src] / outdeg[src], minlength=n)
            return pd.DataFrame({"id": ids, "rank": r}), ["id"]
        raise KeyError(key)

    def check(self, key: str, value) -> str | None:
        if key == "min_variance":
            d = self._t("daily")
            wide = d[d.permno.isin(self.assets)].pivot(index="date", columns="permno",
                                                       values="ret")
            cov = wide[self.assets].cov().to_numpy()
            want = np.linalg.solve(cov, np.ones(len(cov)))
            want = want / want.sum()
            return None if np.allclose(value, want, rtol=1e-6, atol=1e-9) else \
                f"weights {value[:3]} != {want[:3]}"
        want, keys = self.expected(key)
        return compare(value, want.reset_index(drop=True), keys)
