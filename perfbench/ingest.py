"""The daily ingest step of research_pit: TAQ-like ticks drained by a
Structured Streaming query, then the day's panel update upserted into a
store and its signal written.

The day's small tick files are laid down in the query's source directory
and drained at a fixed number of files per trigger through clean_trades
and 5-minute bars.  One symbol carries more than half of the ticks.
"""

from __future__ import annotations

import glob
import os
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from harness import compare, percentile

FILES_PER_TRIGGER = 2
EXCLUDED = "MOZBTLGWJK145789"  # operators.binning.EXCLUDED_TRADE_CONDS
KINDS = ("drain", "upsert", "sigwrite")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**/*.parquet",
                                                      recursive=True))


class DailyIngest:
    def __init__(self, meta: dict, work: str) -> None:
        self.meta = meta
        self.work = work
        self.query = None
        self.progress: list[dict] = []
        self.days = 0
        self.upsert_ms: list[float] = []
        self.drains: list[tuple[int, float]] = []
        self.bytes = {"sources": 0, "datasets": 0, "update_in": 0}
        self._setup = 0

    def start(self, spark) -> None:
        """Define and start the streaming query on an empty source; each
        set-up gets fresh directories."""
        from pyspark.sql import functions as F

        from financial_data_science_spark.operators import clean_trades
        from financial_data_science_spark.streaming.windows import stream_bin_aggregate

        self._setup += 1
        self.spark = spark
        run = os.path.join(self.work, f"ingest{self._setup}")
        self.src = os.path.join(run, "src")
        self.store = os.path.join(run, "store")
        self.signals_path = os.path.join(run, "signals")
        os.makedirs(self.src)
        os.makedirs(self.store)
        os.symlink(self.meta["store_seed"], f"{self.store}/v0")
        self.version = 0
        self.mtime0 = int(os.path.getmtime(self.meta["store_seed"]))
        ticks = (spark.readStream.schema(
            "sym string, ts timestamp, price double, volume long, corr int, cond string")
            .option("maxFilesPerTrigger", FILES_PER_TRIGGER).parquet(self.src))
        bars = stream_bin_aggregate(
            clean_trades(ticks), "ts", "5 minutes", keys=["sym"],
            aggs={"n": F.count(F.lit(1)), "volume": F.sum("volume"),
                  "notional": F.sum(F.col("price") * F.col("volume"))})
        self.qname = f"bars_{self._setup}"
        self.query = (bars.writeStream.outputMode("complete").format("memory")
                      .queryName(self.qname)
                      .option("checkpointLocation", os.path.join(run, "chk")).start())

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def groups(self) -> list[str]:
        return [str(self.query.runId)] if self.query is not None else []

    # ------------------------------------------------------------------ day
    def _lay_down(self, day: int) -> int:
        """Move the day's files into the source, modification times
        strictly increasing so the file source hands them over in order."""
        rows = 0
        for k, path in enumerate(self.meta["day_files"][day]):
            dst = os.path.join(self.src, f"d{day:03d}_{os.path.basename(path)}")
            os.rename(path, dst)
            t = self.mtime0 + day * 100 + k
            os.utime(dst, (t, t))
            rows += pq.ParquetFile(dst).metadata.num_rows
        return rows

    def _drain(self) -> int:
        self.query.processAllAvailable()
        last = self.progress[-1]["batchId"] if self.progress else -1
        new = [p for p in self.query.recentProgress if p["batchId"] > last]
        self.progress.extend(new)
        return sum(p["numInputRows"] for p in new)

    def run_day(self, rec, day: int) -> None:
        from pyspark.sql import functions as F

        from financial_data_science_spark.datasets import Signals
        from financial_data_science_spark.sources.coercion import upsert_append

        spark = self.spark
        rows = self._lay_down(day)
        # clean_trades and stream_bin_aggregate defined the query at set-up;
        # draining the day's files is the action
        if rec.op("streaming", "drain", f"drain:{day}:{rows}", lambda: None,
                  lambda _: self._drain(), extra_groups=self.groups()) is not None:
            self.drains.append((rows, rec.results[-1].ms))
        self.days = day + 1

        upd = spark.read.parquet(self.meta["updates"][day])
        out = f"{self.store}/v{self.version + 1}"
        rec.op("sources", "coercion.upsert_append", f"upsert:{day}",
               lambda: upsert_append(spark.read.parquet(f"{self.store}/v{self.version}"),
                                     upd.select("permno", "date", "ret"),
                                     ["permno", "date"]),
               lambda df: df.write.parquet(out))
        if os.path.isdir(out):
            self.version += 1
            self.upsert_ms.append(rec.results[-1].ms)
            self.bytes["sources"] += dir_bytes(out)
            self.bytes["update_in"] += os.path.getsize(self.meta["updates"][day])
        sig = Signals(self.signals_path)
        rec.op("datasets", "Signals.write", f"sigwrite:{day}",
               lambda: sig.write(upd.select("permno", F.col("date").alias("rebaldate"),
                                            "mom"), "mom"))
        self.bytes["datasets"] += dir_bytes(self.signals_path)

    # -------------------------------------------------------------- metrics
    def metrics(self) -> tuple[dict, dict]:
        mb = [p["durationMs"]["triggerExecution"] for p in self.progress
              if p["numInputRows"] > 0]
        rows = sum(r for r, _ in self.drains)
        secs = sum(ms for _, ms in self.drains) / 1e3
        e2e = {"ingest_rows_per_s": rows / secs if secs else float("nan"),
               "microbatch_ms_p50": percentile(mb, 50),
               "microbatch_ms_p90": percentile(mb, 90),
               "microbatches": len(mb),
               "upsert_ms_p50": percentile(self.upsert_ms, 50)}
        state = (self.query.lastProgress or {}).get("stateOperators", []) \
            if self.query is not None else []
        n = max(self.days, 1)
        layers = {
            "streaming.batches": len(mb) / n,
            "streaming.input_rows": rows / n,
            "streaming.state_rows": float(sum(o["numRowsTotal"] for o in state)),
            "streaming.state_bytes": float(sum(o["memoryUsedBytes"] for o in state)),
            "sources.bytes_written": self.bytes["sources"] / n,
            "datasets.bytes_written": self.bytes["datasets"] / n,
            "sources.write_amp": (self.bytes["sources"] / self.bytes["update_in"]
                                  if self.bytes["update_in"] else 0.0),
        }
        # the sink's cumulative contents, checked with the last drain
        self.sink = self.spark.table(self.qname).toPandas()
        return e2e, layers

    # -------------------------------------------------------------- oracles
    def _check_bars(self) -> str | None:
        files = sorted(glob.glob(os.path.join(self.src, "*.parquet")))
        t = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        t = t[(t["corr"] == 0) & (t.price > 0) & (t.volume > 0)  # noqa: F841
              & ~t["cond"].fillna("").str.contains(f"[{re.escape(EXCLUDED)}]")]
        # the catalog's stream_tick_bins_5min oracle, on these ticks
        want = duckdb.sql("""
            SELECT time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS bin,
                   sym, count(*) AS n, sum(volume) AS volume,
                   sum(price * volume) AS notional
            FROM t GROUP BY 1, 2""").df()
        got = self.sink.copy()
        for f in (want, got):
            f["bin"] = pd.to_datetime(f["bin"], utc=True).dt.as_unit("us").astype("int64")
        why = compare(got, want, ["bin", "sym"])
        return f"bars: {why}" if why else None

    def check(self, key: str, value) -> str | None:
        kind, day = key.split(":")[:2]
        day = int(day)
        last = day == self.days - 1
        if kind == "drain":
            rows = int(key.split(":")[2])
            if value != rows:
                return f"drained {value} rows, laid down {rows}"
            return self._check_bars() if last else None
        upd = pd.read_parquet(self.meta["updates"][day])
        if kind == "upsert":
            prev = pd.read_parquet(f"{self.store}/v{day}")
            new = upd[["permno", "date", "ret"]]
            new = new[~new.set_index(["permno", "date"]).index.isin(
                prev.set_index(["permno", "date"]).index)]
            want = pd.concat([prev, new], ignore_index=True)
            return compare(pd.read_parquet(f"{self.store}/v{day + 1}"), want,
                           ["permno", "date"])
        if kind == "sigwrite":
            fin = upd[np.isfinite(upd["mom"])]
            if value != len(fin):
                return f"Signals.write returned {value}, expected {len(fin)}"
            if last:
                got = pd.read_parquet(f"{self.signals_path}/label=mom")
                want = fin.rename(columns={"date": "rebaldate", "mom": "value"})
                return compare(got, want[["permno", "rebaldate", "value"]],
                               ["permno", "rebaldate"])
            return None
        raise KeyError(key)
