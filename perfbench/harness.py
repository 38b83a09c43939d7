"""Measurement plumbing shared by the workloads.

``Recorder`` times operations and, in a traced run, tags every public
call and every action with its own Spark job group and reads the
counters of those groups back from the public status store.  Spans stay
in memory until the run ends.  ``MachineStamp`` records steal and load
around a run; ``compare`` and ``frame_digest`` check results.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

LAYERS = ("sources", "datasets", "plans", "operators", "backtesting",
          "functions", "streaming")
COUNTERS = ("jobs", "stages", "tasks", "cpu_ms", "shuffle_bytes",
            "spill_bytes", "failed")
#: per-layer metrics only some workloads produce; 0 where a workload has none
WORKLOAD_LAYER_METRICS = (
    "streaming.batches", "streaming.input_rows", "streaming.state_rows",
    "streaming.state_bytes", "sources.bytes_written", "datasets.bytes_written",
    "sources.write_amp", "functions.lsh_candidates", "functions.verified_pairs",
    "functions.verify_yield")


# --------------------------------------------------------------- machine stamp

def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class MachineStamp:
    """Steal as a percentage of the whole machine over the run, plus load
    average at both ends and the core counts.  /proc/stat counts jiffies
    summed over every online CPU, so the delta is divided by
    ``SC_CLK_TCK`` x online CPUs x elapsed seconds."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.jiffies0 = _cpu_jiffies()
        self.load0 = _loadavg()

    def finish(self) -> dict:
        elapsed = time.monotonic() - self.t0
        steal = _cpu_jiffies()[7] - self.jiffies0[7]
        tick = os.sysconf("SC_CLK_TCK")
        online = os.sysconf("SC_NPROCESSORS_ONLN")
        return {
            "steal_pct": round(100.0 * steal / (tick * online * elapsed), 3),
            "loadavg_start": self.load0,
            "loadavg_end": _loadavg(),
            "online_cpus": online,
            "usable_cpus": len(os.sched_getaffinity(0)),
            "elapsed_s": round(elapsed, 3),
        }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the high-water resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# ------------------------------------------------------------- status store

class StatusStore:
    """Counters of Spark job groups, read from the application status
    store (``SparkContext.statusStore``), which is populated with the UI
    off.  Each stage id is counted once per read even when several jobs
    of the group share it."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every finished event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def counters(self, job_ids) -> dict:
        out = dict.fromkeys(COUNTERS, 0)
        store = self._jsc.statusStore()
        stages: set[int] = set()
        for jid in job_ids:
            job = store.job(jid)
            out["jobs"] += 1
            out["failed"] += int(job.status().toString() == "FAILED")
            sids = job.stageIds()
            stages.update(sids.apply(i) for i in range(sids.size()))
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed"] += sd.numFailedTasks()
            out["cpu_ms"] += sd.executorCpuTime() / 1e6
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
        return out


# ------------------------------------------------------------------ results

def frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest; floats rounded to 9 significant digits so
    summation-order noise below that does not change it."""
    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        if isinstance(v, np.ndarray | list | tuple):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)

    rows = sorted("|".join(norm(v) for v in row) for row in
                  df[sorted(df.columns)].itertuples(index=False, name=None))
    return hashlib.sha1("\n".join(rows).encode()).hexdigest()


def compare(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
            rtol: float = 1e-7, atol: float = 1e-9) -> str | None:
    """None when ``got`` matches ``want`` on ``want``'s columns (rows
    matched by ``keys``, floats within tolerance, NaN equal to null),
    else a one-line reason."""
    missing = [c for c in want.columns if c not in got.columns]
    if missing:
        return f"missing columns {missing}"
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    g = got[list(want.columns)].sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    for c in want.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(b) or pd.api.types.is_float_dtype(a):
            a = pd.to_numeric(a, errors="coerce").to_numpy(float)
            b = pd.to_numeric(b, errors="coerce").to_numpy(float)
            if not np.allclose(a, b, rtol=rtol, atol=atol, equal_nan=True):
                bad = int(np.argmax(~np.isclose(a, b, rtol=rtol, atol=atol,
                                                equal_nan=True)))
                return f"column {c} row {bad}: {a[bad]!r} != {b[bad]!r}"
        elif not (a.astype(str).to_numpy() == b.astype(str).to_numpy()).all():
            return f"column {c} differs"
    return None


# ---------------------------------------------------------------- recorder

@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: str | None
    workload: str
    group: str | None = None
    counters: dict = field(default_factory=dict)


@dataclass
class OpResult:
    key: str          # operation + parameters: identifies repeats
    layer: str
    name: str
    value: object     # pandas frame or python value returned by finish()
    ms: float


class Recorder:
    """Times operations of one pass after another.  An operation is one
    call into a library layer plus the action that completes its result.

    Untraced passes set a single job group for the pass (so the pass's
    executor CPU can be read afterwards) and nothing per operation.
    Traced passes put the call and the action each in a job group of
    their own and read that group's status-store counters right after;
    the time those reads take is ``trace_s``."""

    def __init__(self, spark, workload: str, cores: int) -> None:
        self.sc = spark.sparkContext
        self.store = StatusStore(spark)
        self.workload = workload
        self.cores = cores
        self.spans: list[Span] = []
        self.results: list[OpResult] = []
        self.errors: list[str] = []
        self.attempted = 0
        self.traced = False
        #: time traced passes spent reading the status store, inside the pass
        self.trace_s = 0.0
        self._pass: str | None = None
        self._seq = 0
        self._seen_jobs: set[int] = set()

    # ------------------------------------------------------------ passes
    def begin_pass(self, index: int, traced: bool) -> None:
        self.traced = traced
        self._pass = f"{self.workload}/pass{index}"
        self._pass_t0 = time.perf_counter()
        self.sc.setJobGroup(self._pass, self._pass)

    def end_pass(self, stream_groups: list[str]) -> Span:
        t1 = time.perf_counter()
        self.store.drain()
        if self.traced:
            jobs = set()
            for s in self.spans:
                if s.parent == self._pass and s.group:
                    jobs.update(self.store.job_ids(s.group))
        else:
            jobs = set(self.store.job_ids(self._pass))
        for g in stream_groups:
            jobs.update(self.store.job_ids(g))
        jobs -= self._seen_jobs
        self._seen_jobs |= jobs
        span = Span(self._pass, "pass", self._pass_t0, t1, None, self.workload,
                    self._pass, self.store.counters(sorted(jobs)))
        self.spans.append(span)
        return span

    # -------------------------------------------------------- operations
    def op(self, layer: str, name: str, key: str, call: Callable,
           finish: Callable | None = None, extra_groups=()):
        """Run ``call()`` then ``finish(result)``; return finish's value or
        None when either raised (the failure is recorded, the run goes on).

        ``extra_groups`` are job groups other threads run jobs under (a
        streaming query's run id); jobs they start during the action are
        charged to it.
        """
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        tb = time.perf_counter()
        if self.traced and extra_groups:
            self.store.drain()
            before = {j for g in extra_groups for j in self.store.job_ids(g)}
        self.trace_s += time.perf_counter() - tb
        self.attempted += 1
        self._seq += 1
        base = f"{self._pass}/{self._seq}:{layer}.{name}"
        try:
            if self.traced:
                self.sc.setJobGroup(base + "/call", name)
            t0 = time.perf_counter()
            res = call()
            t1 = time.perf_counter()
            if self.traced:
                self.sc.setJobGroup(base + "/action", name)
            out = finish(res) if finish else res
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed operation is a result
            self.errors.append(f"{key}: {type(exc).__name__}: {str(exc)[:400]}")
            return None
        finally:
            if self.traced:
                self.sc.setJobGroup(self._pass, self._pass)
        self.results.append(OpResult(key, layer, name, out, (t2 - t0) * 1e3))
        if self.traced:
            tb = time.perf_counter()
            self.store.drain()
            for part, a, b in (("call", t0, t1), ("action", t1, t2)):
                g = f"{base}/{part}"
                jobs = set(self.store.job_ids(g))
                if part == "action" and extra_groups:
                    jobs |= {j for g2 in extra_groups
                             for j in self.store.job_ids(g2)} - before
                self.spans.append(Span(
                    f"{layer}.{name}/{part}", layer, a, b, self._pass,
                    self.workload, g, self.store.counters(sorted(jobs)),
                ))
            self.trace_s += time.perf_counter() - tb
        return out

    # ----------------------------------------------------------- summary
    def layer_metrics(self, n_passes: int) -> dict:
        """The per-layer block, averaged per traced pass."""
        out = {}
        n = max(n_passes, 1)
        for layer in LAYERS:
            spans = [s for s in self.spans if s.layer == layer]
            calls = [s for s in spans if s.name.endswith("/call")]
            acts = [s for s in spans if s.name.endswith("/action")]
            agg = {k: sum(s.counters.get(k, 0) for s in spans) for k in COUNTERS}
            call_ms = sum((s.end - s.start) * 1e3 for s in calls)
            action_ms = sum((s.end - s.start) * 1e3 for s in acts)
            wall = call_ms + action_ms
            m = {
                "calls": len(calls) / n,
                "call_ms": call_ms / n,
                "action_ms": action_ms / n,
                **{k: agg[k] / n for k in COUNTERS},
                "cpu_util": agg["cpu_ms"] / (wall * self.cores) if wall else 0.0,
            }
            out.update({f"{layer}.{k}": v for k, v in m.items()})
        return out


class Workload:
    """What run.py needs from a workload; passes repeat until time is up."""

    def load(self, spark) -> None:
        """Build the workload's inputs on ``spark`` and run the first action."""
        raise NotImplementedError

    def run_pass(self, rec: Recorder, index: int) -> None:
        raise NotImplementedError

    def max_passes(self) -> int:
        return 1_000_000

    def stream_groups(self) -> list[str]:
        return []

    def latencies(self, rec: Recorder) -> list[float]:
        """The workload's unit operation latencies, in ms."""
        return [r.ms for r in rec.results]

    def close(self, rec: Recorder) -> tuple[dict, dict]:
        """Workload-specific (end-to-end, per-layer) metrics after the
        timed region."""
        return {}, {}

    def check(self, key: str, value) -> str | None:
        raise NotImplementedError

    def stop(self) -> None:
        """Stop whatever the workload started on the session."""


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default)."""
    return float(np.percentile(values, q)) if values else float("nan")


def geomean(values: list[float]) -> float:
    """Geometric mean: every operation weighs the same whatever its size,
    and no single operation decides the value, as the middle one of a
    few unlike operations decides a median."""
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else float("nan")


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else float("nan")
