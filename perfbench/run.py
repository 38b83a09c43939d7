"""FinDS user-session benchmark for financial_data_science_spark.

    python3 perfbench/run.py --workload research_pit --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke

One process, one client thread, closed loop: the next operation is sent
when the previous one has returned its collected result.  Run from the
repository root.  The last line of standard output is the result object;
the line before it is the full report (machine stamp, every metric of the
workload, failures).  See perfbench/README.md for the workloads and the
meaning of every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: everything this process writes; removed when it exits
PROC_DIR = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
sys.path[:0] = [HERE, ROOT]

#: Spark's local[N] width; capped by the CPUs this process may use
CORES = min(4, len(os.sched_getaffinity(0)))
#: set-ups per run (the first in a fresh JVM); setup_s is their median
SETUPS = 3
DRIVER_MEM = "2g"


def _workload(name: str, meta: dict, seed: int):
    if name == "research_pit":
        from research_pit import ResearchPit
        return ResearchPit(meta, seed)
    if name == "backtest_panel":
        from backtest_panel import BacktestPanel
        return BacktestPanel(meta, seed)
    if name == "corpus_dedup":
        from corpus_dedup import CorpusDedup
        return CorpusDedup(meta, seed)
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("research_pit", "backtest_panel", "corpus_dedup")


def _spark_env() -> None:
    """Point the temporary files of this process, the JVM it launches and
    the Python workers into PROC_DIR.  The JVM reads its temporary and
    local directories once, so they belong to the process, not a run."""
    tmp = os.path.join(PROC_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _spark_conf(work: str) -> dict:
    return {
        "spark.local.dir": os.path.join(PROC_DIR, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={PROC_DIR}/tmp -Dderby.system.home={PROC_DIR}/tmp "
            # a fixed, pre-touched heap: peak RSS then follows what the
            # driver holds beyond the heap, not when the collector ran
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
        "spark.sql.streaming.ui.retainedQueries": "10",
        "spark.python.worker.reuse": "true",
    }


def _start_session(work: str):
    from financial_data_science_spark import get_spark

    return get_spark("perfbench", extra_conf=_spark_conf(work))


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str = "full", setups: int = SETUPS) -> dict:
    from gen import generate
    from harness import (WORKLOAD_LAYER_METRICS, MachineStamp, Recorder, frame_digest,
                         geomean, median, peak_rss_mb, percentile)

    stamp = MachineStamp()
    work = os.path.join(PROC_DIR, f"{workload}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    t = time.perf_counter()
    meta = generate(workload, seed, os.path.join(work, "inputs"), size)
    gen_s = time.perf_counter() - t
    meta["work"] = work
    w = _workload(workload, meta, seed)

    # set-up: session start through the first action, several times
    spark, setup_s, ctx_ms = None, [], []
    try:
        for i in range(setups):
            if spark is not None:
                w.stop()
                spark.stop()
            t0 = time.perf_counter()
            spark = _start_session(work)
            t1 = time.perf_counter()
            w.load(spark)
            setup_s.append(time.perf_counter() - t0)
            ctx_ms.append((t1 - t0) * 1e3)

        rec = Recorder(spark, workload, CORES)
        passes = []
        t_start = time.perf_counter()
        i = 0
        while i < w.max_passes():
            rec.begin_pass(i, trace)
            w.run_pass(rec, i)
            passes.append(rec.end_pass(w.stream_groups()))
            i += 1
            if time.perf_counter() - t_start >= seconds:
                break
        e2e_extra, layer_extra = w.close(rec)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb([jvm_pid, os.getpid()])

        # correctness, outside the timed region
        checked: dict[str, str] = {}
        for r in rec.results:
            if r.key in checked:
                d = frame_digest(r.value) if hasattr(r.value, "columns") else repr(r.value)
                if d != checked[r.key]:
                    rec.errors.append(f"{r.key}: repeat differs from checked result")
                continue
            try:
                why = w.check(r.key, r.value)
            except Exception as exc:  # noqa: BLE001 - an oracle crash is a failure
                why = f"oracle raised {exc!r}"
            if why:
                rec.errors.append(f"{r.key}: {why}")
            checked[r.key] = (frame_digest(r.value) if hasattr(r.value, "columns")
                              else repr(r.value))
    finally:
        if spark is not None:
            w.stop()
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    walls = [p.end - p.start for p in passes]
    lat = w.latencies(rec)
    failed = len(rec.errors)
    report = {
        "setup_s": median(setup_s),
        "wall_s": median(walls),
        "cpu_s": median([p.counters["cpu_ms"] / 1e3 for p in passes]),
        "op_ms_geomean": geomean(lat),
        "op_ms_p50": percentile(lat, 50),
        "op_ms_p90": percentile(lat, 90),
        "peak_rss_mb": rss,
        "error_rate": failed / max(rec.attempted, 1),
        **e2e_extra,
    }
    layers = {}
    if trace:
        layers = rec.layer_metrics(len(passes))
        layers["session.start_ms"] = ctx_ms[0]
        layers["session.warm_ms"] = median(ctx_ms[1:]) if len(ctx_ms) > 1 else ctx_ms[0]
        # the traced passes' wall over the same wall without the status-store
        # reads made inside them
        layers["trace.overhead"] = sum(walls) / (sum(walls) - rec.trace_s)
        layers.update(dict.fromkeys(WORKLOAD_LAYER_METRICS, 0.0), **layer_extra)
    return {
        "workload": workload, "seed": seed, "trace": int(trace), "size": size,
        "cores": CORES, "passes": len(passes), "pass_s": walls, "ops_timed": len(lat),
        "gen_s": gen_s, "setup_runs_s": setup_s, "machine": stamp.finish(),
        "attempted": rec.attempted, "failed": failed, "errors": rec.errors[:20],
        "op_ms_by_name": {n: round(median([r.ms for r in rec.results if r.name == n]), 1)
                          for n in dict.fromkeys(r.name for r in rec.results)},
        "e2e": report, "per_layer": layers,
        "spans": len(rec.spans),
        "_spans": rec.spans,
    }


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(res: dict, declared: dict) -> dict:
    kind = "per_layer" if res["trace"] else "end_to_end"
    src = res["per_layer"] if res["trace"] else res["e2e"]
    # a metric left undefined by failed operations reads 0; the run is
    # then marked incorrect by its failures
    metrics = {m["name"]: {"value": src[m["name"]] if math.isfinite(src[m["name"]]) else 0.0,
                           "unit": m["unit"]}
               for m in declared[kind]}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def _write_spans(res: dict) -> str:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{res['workload']}-{res['seed']}.jsonl")
    with open(path, "w") as f:
        for s in res["_spans"]:
            f.write(json.dumps(s.__dict__, default=str) + "\n")
    return path


def smoke() -> int:
    """Every workload, untraced and traced, on the tiny inputs; asserts
    that every declared metric is emitted with its declared unit."""
    declared = _declared()
    names = {m["name"] for m in declared["workloads"]}
    problems = []
    if names != set(WORKLOADS):
        problems.append(f"BENCHMARK.json workloads {sorted(names)}")
    for wl in WORKLOADS:
        for trace in (False, True):
            res = run(wl, 7, 1.0, trace, size="smoke", setups=1)
            line = result_line(res, declared)
            kind = "per_layer" if trace else "end_to_end"
            src = res["per_layer"] if trace else res["e2e"]
            for m in declared[kind]:
                if not isinstance(src.get(m["name"]), int | float):
                    problems.append(f"{wl} trace={int(trace)}: {m['name']} missing")
            extra = set(src) - {m["name"] for m in declared[kind]}
            if trace and extra:
                problems.append(f"{wl}: undeclared per-layer metrics {sorted(extra)}")
            if not line["correct"]:
                problems.append(f"{wl} trace={int(trace)}: {res['errors']}")
            print(json.dumps({"workload": wl, "trace": int(trace),
                              "attempted": line["attempted"],
                              "failed": line["failed"]}), flush=True)
    for p in problems:
        print("SMOKE FAIL:", p, file=sys.stderr)
    print(json.dumps({"smoke": "ok" if not problems else "failed",
                      "problems": len(problems)}))
    return 1 if problems else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs and check the metric set")
    args = ap.parse_args(argv)
    # read by the session module when it is first imported
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        import financial_data_science_spark  # noqa: F401
        import pyspark  # noqa: F401
        declared = _declared()
    except (ImportError, OSError) as exc:
        print(f"perfbench: cannot run here: {exc}", file=sys.stderr)
        return 2
    if not (args.smoke or args.workload):
        ap.error("--workload is required")
    _spark_env()
    try:
        if args.smoke:
            return smoke()
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        _stop_jvm()
        shutil.rmtree(PROC_DIR, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(PROC_DIR))
    if args.trace:
        res["spans_file"] = _write_spans(res)
    res.pop("_spans")
    print(json.dumps(res, default=float))
    print(json.dumps(result_line(res, declared)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
