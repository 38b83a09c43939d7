"""Seeded input generator for the four benchmark workloads.

Every table is a pure function of ``(workload, seed, size)``: numpy's
PCG64 stream seeded once per call, no wall-clock or filesystem input.
Files are written as parquet under the caller's work directory only.

Shapes follow the FinDS reference (CRSP-style int YYYYMMDD dates,
negative prices as bid-ask midpoints, delisted names whose rows stop,
links with open-ended ``linkenddt = 0``), so the library's public
functions run on the inputs they were written for.
"""

from __future__ import annotations

import datetime as dt
import os
import string

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: per-workload sizes; ``smoke`` shrinks every workload to seconds
SIZES = {
    "full": {
        "research_pit": dict(permnos=300, days=260, ingest=dict(
            symbols=24, days=20, ticks_per_day=3000, files_per_day=6, permnos=200)),
        "backtest_panel": dict(permnos=200, days=300, edges=1000),
        "corpus_dedup": dict(docs=1000, batches=20, batch_docs=10),
    },
    "smoke": {
        "research_pit": dict(permnos=40, days=70, ingest=dict(
            symbols=6, days=3, ticks_per_day=400, files_per_day=2, permnos=20)),
        "backtest_panel": dict(permnos=80, days=130, edges=300),
        "corpus_dedup": dict(docs=200, batches=4, batch_docs=6),
    },
}


def trading_days(n: int, start: dt.date = dt.date(2019, 1, 2)) -> list[int]:
    """``n`` Mon-Fri dates from ``start`` minus fixed-date holidays."""
    out, d = [], start
    holidays = {(1, 1), (7, 4), (12, 25)}
    while len(out) < n:
        if d.weekday() < 5 and (d.month, d.day) not in holidays:
            out.append(d.year * 10000 + d.month * 100 + d.day)
        d += dt.timedelta(days=1)
    return out


def month_ends(days: list[int]) -> list[int]:
    """Last trading date of every calendar month in ``days``."""
    ends: dict[int, int] = {}
    for d in days:
        ends[d // 100] = d
    return sorted(ends.values())


def _write(df: pd.DataFrame, path: str, parts: int = 1) -> str:
    """One parquet file, or a directory of ``parts`` files so that a scan
    has that many input splits."""
    if parts > 1:
        for i, idx in enumerate(np.array_split(np.arange(len(df)), parts)):
            _write(df.iloc[idx], f"{path}/part-{i:03d}.parquet")
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def _panel(rng: np.random.Generator, permnos: int, days: list[int]) -> dict:
    """CRSP-shaped daily panel with names, delists, market and events."""
    n_days = len(days)
    ids = np.arange(10001, 10001 + permnos, dtype=np.int32)
    start = np.where(rng.random(permnos) < 0.1,
                     rng.integers(1, n_days // 2, permnos), 0)
    delisted = rng.random(permnos) < 0.06
    end = np.where(delisted, rng.integers(n_days // 2, n_days - 1, permnos),
                   n_days)
    mkt = rng.normal(0.0003, 0.01, n_days)
    beta = rng.uniform(0.5, 1.5, permnos)
    p0 = rng.uniform(5.0, 150.0, permnos)
    sh0 = rng.integers(1_000, 500_000, permnos).astype(np.float64)
    cols: dict[str, list[np.ndarray]] = {
        k: [] for k in ("permno", "date", "prc", "shrout", "ret", "retx")}
    day_arr = np.asarray(days, dtype=np.int32)
    for i in range(permnos):
        s, e = int(start[i]), int(end[i])
        n = e - s
        ret = beta[i] * mkt[s:e] + rng.normal(0.0, 0.02, n)
        px = p0[i] * np.cumprod(1.0 + ret)
        prc = np.where(rng.random(n) < 0.03, -px, px)
        ret = np.where(rng.random(n) < 0.01, np.nan, ret)
        shr = sh0[i] * np.where(np.arange(n) >= n // 2,
                                1.0 + 0.5 * (rng.random() < 0.2), 1.0)
        cols["permno"].append(np.full(n, ids[i], np.int32))
        cols["date"].append(day_arr[s:e])
        cols["prc"].append(np.round(prc, 4))
        cols["shrout"].append(shr)
        cols["ret"].append(np.round(ret, 6))
        cols["retx"].append(np.round(ret - 0.0001, 6))
    daily = pd.DataFrame({k: np.concatenate(v) for k, v in cols.items()})

    permco = (ids - 10001) // 2 + 50001  # pairs of permnos share a permco
    shrcd = rng.choice([10, 11, 12], permnos, p=[0.6, 0.3, 0.1])
    exchcd = rng.choice([1, 2, 3, 4], permnos, p=[0.35, 0.3, 0.3, 0.05])
    names = pd.DataFrame({
        "permno": ids, "date": np.int32(19000101),
        "shrcd": shrcd.astype(np.int32), "exchcd": exchcd.astype(np.int32),
        "permco": permco.astype(np.int32),
    })
    change = rng.random(permnos) < 0.2  # a mid-panel exchange switch
    later = names[change].copy()
    later["date"] = day_arr[rng.integers(10, n_days - 10, int(change.sum()))]
    later["exchcd"] = rng.choice([1, 2, 3], int(change.sum())).astype(np.int32)
    names = pd.concat([names, later], ignore_index=True)

    delist = pd.DataFrame({
        "permno": ids[delisted],
        "dlstdt": day_arr[end[delisted]],
        "dlstcd": rng.choice([500, 552, 233], int(delisted.sum())).astype(np.int32),
        "dlret": np.round(rng.normal(-0.1, 0.1, int(delisted.sum())), 6),
    })
    market = pd.DataFrame({"date": day_arr, "mktret": np.round(mkt, 6)})
    return {"daily": daily, "names": names, "delist": delist,
            "market": market, "start": start, "end": end, "ids": ids}


def _events(rng, panel: dict, days: list[int], n: int, margin: int) -> pd.DataFrame:
    """``n`` distinct (permno, announcedate) pairs inside each listing."""
    ids, start, end = panel["ids"], panel["start"], panel["end"]
    seen, rows = set(), []
    while len(rows) < n:
        i = int(rng.integers(0, len(ids)))
        lo, hi = int(start[i]) + margin, int(end[i]) - margin
        if hi <= lo:
            continue
        key = (int(ids[i]), days[int(rng.integers(lo, hi))])
        if key not in seen:
            seen.add(key)
            rows.append(key)
    return pd.DataFrame(rows, columns=["permno", "announcedate"]).astype(np.int32)


def _signal(rng, panel: dict, rebals: list[int]) -> pd.DataFrame:
    """(permno, rebaldate, value) for listed names at each rebalance."""
    daily = panel["daily"]
    listed = daily[daily["date"].isin(rebals)][["permno", "date"]]
    out = listed.rename(columns={"date": "rebaldate"}).reset_index(drop=True)
    out["value"] = np.round(rng.normal(0.0, 1.0, len(out)), 6)
    return out


def gen_research_pit(rng, root: str, permnos: int, days: int, ingest: dict) -> dict:
    cal = trading_days(days)
    panel = _panel(rng, permnos, cal)
    ids = panel["ids"]
    gvkeys = np.arange(1001, 1001 + len(ids), dtype=np.int32)
    mid = cal[len(cal) // 2]
    links = pd.DataFrame({
        "gvkey": gvkeys, "linkdt": np.int32(0),
        "linkenddt": np.where(rng.random(len(ids)) < 0.15, mid, 0).astype(np.int32),
        "lpermno": ids,
        "linktype": rng.choice(["LC", "LU", "LX"], len(ids), p=[0.6, 0.3, 0.1]),
    })
    # a second, later link for a share of keys: the permno changes mid-panel
    moved = rng.random(len(ids)) < 0.2
    relinked = links[moved & (links["linkenddt"] == 0)].copy()
    relinked["linkdt"] = np.int32(mid + 1)
    relinked["lpermno"] = relinked["lpermno"] + 5000
    relinked["linktype"] = "LC"
    links.loc[relinked.index, "linkenddt"] = np.int32(mid)
    links = pd.concat([links, relinked], ignore_index=True)
    qends = [d for d in month_ends(cal) if (d // 100) % 100 in (3, 6, 9, 12)]
    fund = pd.DataFrame(
        [(int(g), q) for g in gvkeys for q in qends], columns=["gvkey", "datadate"]
    ).astype(np.int32)
    fund["sales"] = np.round(rng.lognormal(5.0, 1.0, len(fund)), 4)
    rebals = month_ends(cal)
    sig = pd.concat([
        _signal(rng, panel, rebals).assign(label="mom"),
        _signal(rng, panel, rebals).assign(label="rev"),
    ])
    files = {
        "daily": _write(panel["daily"], f"{root}/daily.parquet"),
        "names": _write(panel["names"], f"{root}/names.parquet"),
        "delist": _write(panel["delist"], f"{root}/delist.parquet"),
        "events": _write(_events(rng, panel, cal, 40, 12), f"{root}/events.parquet"),
        "links": _write(links, f"{root}/links.parquet"),
        "fund": _write(fund, f"{root}/fund.parquet"),
        "calendar": _write(pd.DataFrame({"date": np.asarray(cal, np.int32)}),
                           f"{root}/calendar.parquet"),
    }
    for label, part in sig.groupby("label"):
        _write(part.drop(columns="label"),
               f"{root}/signals/label={label}/part-0.parquet")
    files["signals"] = f"{root}/signals"
    return {"files": files, "calendar": cal,
            "ingest": gen_daily_ingest(rng, f"{root}/ingest", **ingest)}


def gen_backtest_panel(rng, root: str, permnos: int, days: int, edges: int) -> dict:
    cal = trading_days(days)
    panel = _panel(rng, permnos, cal)
    rebals = month_ends(cal)
    daily = panel["daily"]
    at_rebal = daily[daily["date"].isin(rebals)]
    names = panel["names"].sort_values("date").drop_duplicates("permno", keep="first")
    universe = at_rebal.merge(names[["permno", "exchcd"]], on="permno")
    universe = pd.DataFrame({
        "rebaldate": universe["date"], "permno": universe["permno"],
        "cap": np.round(universe["prc"].abs() * universe["shrout"], 4),
        "exchcd": universe["exchcd"],
    })
    signal = _signal(rng, panel, rebals)
    intervals = pd.DataFrame({"beg": rebals[:-1], "end": rebals[1:]}).astype(np.int32)
    # supplier graph: preferential attachment, no self loops, no duplicates
    ids = panel["ids"]
    w = rng.pareto(1.5, len(ids)) + 1.0
    src = rng.choice(ids, edges, p=w / w.sum())
    dst = rng.choice(ids, edges)
    graph = pd.DataFrame({"src": src, "dst": dst})
    graph = graph[graph.src != graph.dst].drop_duplicates().reset_index(drop=True)
    files = {
        "daily": _write(daily[["permno", "date", "ret", "retx"]], f"{root}/daily",
                        parts=8),
        "market": _write(panel["market"], f"{root}/market.parquet"),
        "universe": _write(universe, f"{root}/universe.parquet"),
        "signal": _write(signal, f"{root}/signal.parquet"),
        "intervals": _write(intervals, f"{root}/intervals.parquet"),
        "events": _write(_events(rng, panel, cal, 3 * permnos, 15),
                         f"{root}/events.parquet"),
        "edges": _write(graph, f"{root}/edges.parquet"),
        "calendar": _write(pd.DataFrame({"date": np.asarray(cal, np.int32)}),
                           f"{root}/calendar.parquet"),
    }
    return {"files": files, "calendar": cal}


def gen_daily_ingest(rng, root: str, symbols: int, days: int, ticks_per_day: int,
                     files_per_day: int, permnos: int) -> dict:
    """Per-day TAQ-like tick files (one hot symbol carries >= half the
    rows), a seed store and the daily updates upserted into it."""
    syms = ["HOT"] + [f"S{i:03d}" for i in range(1, symbols)]
    weights = np.r_[0.55, np.full(symbols - 1, 0.45 / (symbols - 1))]
    cal = trading_days(days)
    base_px = {s: float(rng.uniform(10, 200)) for s in syms}
    day_files: list[list[str]] = []
    for di, d in enumerate(cal):
        y, m, dd = d // 10000, d // 100 % 100, d % 100
        open_us = int(dt.datetime(y, m, dd, 14, 30, tzinfo=dt.timezone.utc).timestamp() * 1e6)
        sym = rng.choice(len(syms), ticks_per_day, p=weights)
        # strictly increasing per-symbol timestamps: sorted unique offsets
        offs = np.sort(rng.choice(23_400_000_000, ticks_per_day, replace=False))
        price = np.array([base_px[syms[k]] for k in sym]) * np.exp(
            rng.normal(0, 0.002, ticks_per_day))
        df = pd.DataFrame({
            "sym": np.asarray(syms)[sym],
            "ts": pd.to_datetime(open_us + offs, unit="us", utc=True).astype(
                "datetime64[us, UTC]"),
            "price": np.round(np.where(rng.random(ticks_per_day) < 0.01, -1.0, price), 4),
            "volume": rng.integers(0, 1000, ticks_per_day).astype(np.int64),
            "corr": np.where(rng.random(ticks_per_day) < 0.02, 1, 0).astype(np.int32),
            "cond": rng.choice(["", "@", "F", "Z"], ticks_per_day, p=[0.7, 0.2, 0.05, 0.05]),
        })
        chunks = np.array_split(np.arange(ticks_per_day), files_per_day)
        paths = []
        for fi, idx in enumerate(chunks):
            paths.append(_write(df.iloc[idx], f"{root}/staged/d{di:03d}/f{fi:03d}.parquet"))
        day_files.append(paths)
    # daily store: seed rows, then per-day updates overlapping 20% of keys
    ids = np.arange(10001, 10001 + permnos, dtype=np.int32)
    store_days = trading_days(days + 20)
    seed_rows = pd.DataFrame(
        [(int(p), d) for d in store_days[:20] for p in ids], columns=["permno", "date"]
    ).astype(np.int32)
    seed_rows["ret"] = np.round(rng.normal(0, 0.02, len(seed_rows)), 6)
    updates = []
    for di in range(days):
        new = pd.DataFrame({"permno": ids, "date": np.int32(store_days[20 + di])})
        old = seed_rows.sample(n=permnos // 5, random_state=int(rng.integers(1 << 30)))
        upd = pd.concat([new, old[["permno", "date"]]], ignore_index=True)
        upd["ret"] = np.round(rng.normal(0, 0.02, len(upd)), 6)
        upd["mom"] = np.where(rng.random(len(upd)) < 0.03, np.inf,
                              np.round(rng.normal(0, 1, len(upd)), 6))
        updates.append(_write(upd, f"{root}/updates/u{di:03d}.parquet"))
    _write(seed_rows, f"{root}/store_seed/part-0.parquet")
    return {"store_seed": f"{root}/store_seed",
            "day_files": day_files, "updates": updates}


def _words(rng, n: int) -> np.ndarray:
    letters = np.array(list(string.ascii_lowercase))
    lens = rng.integers(3, 9, n)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


def gen_corpus_dedup(rng, root: str, docs: int, batches: int, batch_docs: int) -> dict:
    """Documents with planted near-duplicates: 15% of the corpus and 30% of
    every increment batch copy an earlier corpus document with about one
    word in 25 replaced."""
    vocab = _words(rng, 3000)
    total = docs + batches * batch_docs
    texts, src = [], [-1] * total
    for i in range(total):
        share = 0.15 if i < docs else 0.30
        if i > 20 and rng.random() < share:
            j = int(rng.integers(0, min(i, docs)))
            words = texts[j].split()
            for k in rng.choice(len(words), max(1, len(words) // 25), replace=False):
                words[k] = str(rng.choice(vocab))
            texts.append(" ".join(words))
            src[i] = j
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(40, 90)))))
    doc_df = pd.DataFrame({"doc_id": np.arange(total, dtype=np.int64), "text": texts})
    batch_files = [
        _write(doc_df.iloc[docs + b * batch_docs:docs + (b + 1) * batch_docs],
               f"{root}/batches/docs_{b:04d}.parquet")
        for b in range(batches)]
    return {"files": {"corpus_docs": _write(doc_df.iloc[:docs],
                                            f"{root}/corpus_docs.parquet")},
            "batches": batch_files, "planted": src, "docs": docs}


GENERATORS = {
    "research_pit": gen_research_pit,
    "backtest_panel": gen_backtest_panel,
    "corpus_dedup": gen_corpus_dedup,
}


def generate(workload: str, seed: int, root: str, size: str = "full") -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``root``."""
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    return GENERATORS[workload](rng, root, **SIZES[size][workload])
