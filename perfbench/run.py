"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The script generates its inputs from the
seed under `.perfbench_work/`, starts one `local[<cores>]` Spark session,
runs the workload as a closed loop for `--seconds`, checks every output
against an independent oracle, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the layer functions are wrapped (see tracing.py) and the metrics are the
per-layer ones. A full record of the run, keyed by workload, seed, core
count and trace mode, is written to `.perfbench_runs/`.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# Driver memory stays below this machine class's RAM and identical on both
# sides of every comparison; the engine's own default (16g) lets the
# kernel kill the JVM on a 16 GB host. The heap size is fixed (-Xms =
# -Xmx): left to grow on demand, it settled at a different size in each
# process and the smaller heaps ran every query 20-40% slower. Pages are
# not touched ahead of use, so peak RSS still follows the heap the run
# actually uses.
DRIVER_MEM = "3g"
# Operations not started by this many seconds after launch fail, so a
# run always reports within three minutes.
RUN_DEADLINE_S = 150.0
T_START = time.perf_counter()


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_environment(work: Path, cores: int) -> dict:
    """Environment every run shares: worker import path, core count,
    driver memory and scratch directories inside the checkout."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    env = {
        # Python workers import the engine by module path (UDF pickles)
        "PYTHONPATH": str(ROOT) + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # every JVM started (Spark launcher and driver) keeps its files in the checkout
        "_JAVA_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    }
    os.environ.update(env)
    sys.path.insert(0, str(ROOT))
    return env


def _spark_conf() -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }


# ------------------------------------------------------------------ stats
def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that leaves at least
    ten samples beyond it; the maximum when there are ten or fewer."""
    s = sorted(samples)
    i = max(len(s) - 11, 0) if len(s) > 10 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s)


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _jvm_memory(spark) -> dict:
    """Peak old-generation heap use and total GC time of the driver JVM
    since it started. With the heap size fixed, the JVM's RSS reaches most
    of the heap in any run; the old generation's peak is what grows with
    the data the program keeps alive."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    old = [p.getPeakUsage().getUsed() for p in mgmt.getMemoryPoolMXBeans()
           if "Old Gen" in p.getName()]
    gc_ms = sum(max(g.getCollectionTime(), 0) for g in mgmt.getGarbageCollectorMXBeans())
    return {"old_gen_peak_mb": sum(old) / 2**20, "gc_s": gc_ms / 1e3}


def end_to_end(res, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """The gated metrics over the workload's units of work, plus the
    per-operation-kind detail recorded beside them."""
    from perfbench.workloads import SERVE_KINDS

    unit = [sec for sec, _ in res.units]
    wall = max(res.wall_s, 1e-9)
    metrics = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "op_p50_ms": (_p50(unit) * 1e3, "ms"),
        "op_max_ms": (max(unit, default=0.0) * 1e3, "ms"),
        "ops_per_s": (sum(ok for _, ok in res.units) / wall, "1/s"),
    }
    detail = {"op_count": len(unit)}
    reads = [o for o in res.ops if o.kind in SERVE_KINDS]
    if reads:
        q_tail, q_pct = tail([o.seconds for o in reads])
        detail.update({
            "serving_qps": len(reads) / wall,
            "query_p50_ms": _p50([o.seconds for o in reads]) * 1e3,
            "query_tail_ms": q_tail * 1e3,
            "query_tail_percentile": q_pct,
            "repeat_share": res.extra["repeat_share"],
        })
        for kind in SERVE_KINDS:
            detail[f"{kind}_p50_ms"] = _p50([o.seconds for o in reads if o.kind == kind]) * 1e3
    else:
        detail["batch_pass_s"] = _p50(unit)
    return metrics, detail


def per_layer(tracer, spark, res, cores: int, session_s: float, detail: dict,
              e2e: dict, coverage_ok: bool) -> dict:
    from perfbench.tracing import group_metrics, stage_table

    win = res.window
    wall = max(res.wall_s, 1e-9)

    def calls(name, window=win):
        return tracer.totals(name, window)

    def jobs_under(name):
        groups = []
        for i, s in enumerate(tracer.spans):
            if s.name == name and win[0] <= s.start < win[1]:
                groups += tracer.subtree_groups(i)
        return groups

    stages = stage_table(spark)
    all_groups = [s.group for s in tracer.spans if s.group and win[0] <= s.start < win[1]]
    sm = group_metrics(spark, all_groups, stages)
    n_text = [i for i, s in enumerate(tracer.spans)
              if s.name in ("db.query_text", "db.hybrid_search") and win[0] <= s.start < win[1]]
    reused = sum(not tracer.has_descendant(i, "bm25.stats_build") for i in n_text)
    recalls = [o.detail["recall"] for o in res.ops if "recall" in o.detail]
    m = {
        "session.start_s": (session_s, "s"),
        "tables.load_calls": (calls("tables.load")[0], "count"),
        "tables.load_s": (calls("tables.load")[1], "s"),
        "queries.build_s": (calls("queries.build")[1], "s"),
        "queries.build_jobs": (group_metrics(spark, jobs_under("queries.build"), stages)["jobs"], "count"),
        "dedup.cc_calls": (calls("dedup.cc")[0], "count"),
        "dedup.cc_s": (calls("dedup.cc")[1], "s"),
        "dedup.cc_jobs": (group_metrics(spark, jobs_under("dedup.cc"), stages)["jobs"], "count"),
        "bm25.stats_builds": (calls("bm25.stats_build")[0], "count"),
        "bm25.stats_build_s": (calls("bm25.stats_build")[1], "s"),
        "bm25.query_s": (calls("bm25.query")[1], "s"),
        "bm25.stats_reuse": (reused / len(n_text) if n_text else 0.0, "ratio"),
        "nsw.build_s": (calls("nsw.build", None)[1], "s"),
        "nsw.search_s": (calls("nsw.search")[1], "s"),
        "nsw.recall_at_k": (statistics.fmean(recalls) if recalls else 0.0, "ratio"),
        "hybrid.s": (calls("hybrid")[1], "s"),
    }
    for meth in ("query_text", "query_vector", "query_metadata", "hybrid_search"):
        m[f"db.{meth}_s"] = (calls(f"db.{meth}")[1], "s")
        m[f"db.{meth}_self_s"] = (tracer.self_seconds(f"db.{meth}", win), "s")
    m.update({
        "spark.plan_s": (calls("spark.plan")[1], "s"),
        "spark.collect_s": (calls("spark.collect")[1], "s"),
        "spark.jobs": (sm["jobs"], "count"),
        "spark.stages": (sm["stages"], "count"),
        "spark.tasks": (sm["tasks"], "count"),
        "spark.task_run_s": (sm["run_s"], "s"),
        "spark.task_cpu_s": (sm["cpu_s"], "s"),
        "spark.shuffle_write_mb": (sm["shuffle_write_mb"], "MB"),
        "spark.spill_mb": (sm["spill_mb"], "MB"),
        "spark.task_busy": (sm["run_s"] / (wall * cores), "ratio"),
        "jvm.old_gen_peak_mb": (detail.get("jvm_old_gen_peak_mb", 0.0), "MB"),
        "jvm.gc_s": (detail.get("jvm_gc_s", 0.0), "s"),
        "trace.coverage_ok": (1 if coverage_ok else 0, "bool"),
    })
    for name in ("setup_s", "op_p50_ms", "op_max_ms", "ops_per_s"):
        m[f"traced.{name}"] = e2e[name]
    for name, unit in (("serving_qps", "1/s"), ("query_p50_ms", "ms"), ("query_tail_ms", "ms"),
                       ("text_p50_ms", "ms"), ("vector_p50_ms", "ms"),
                       ("metadata_p50_ms", "ms"), ("hybrid_p50_ms", "ms"),
                       ("repeat_share", "ratio"), ("batch_pass_s", "s")):
        m[f"op.{name}"] = (detail.get(name, 0.0), unit)
    return m


# Where each layer must (> 0) or must not (== 0) be called in the timed window.
COVERAGE = {
    "serve_read": {"tables.load": 0, "dedup.cc": 0, "nsw.add": 0, "nsw.search": 1,
                   "bm25.query": 1, "hybrid": 1, "db.query_metadata": 1},
    "batch_pipeline": {"tables.load": 1, "dedup.cc": 1, "queries.build": 1,
                       "nsw.add": 0, "db.add": 0},
}


def coverage(tracer, workload: str, window) -> dict:
    """{layer: (calls, expected sign, ok)} for the workload's predictions."""
    out = {}
    for name, want in COVERAGE[workload].items():
        n = tracer.totals(name, window)[0]
        out[name] = {"calls": n, "expect_calls": bool(want), "ok": (n > 0) == bool(want)}
    return out


# ------------------------------------------------------------------- main
def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "homemade_vector_db_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import datagen, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    key = f"{args.workload}-seed{args.seed}-c{cores}-trace{args.trace}"
    work = ROOT / ".perfbench_work" / f"{key}-{os.getpid()}"
    env = _pin_environment(work, cores)
    sf_dir = str(work / "data" / "sf0.1")
    datagen.generate(args.seed, sf_dir, star_schema=args.workload == "batch_pipeline")
    derived_before = _derived_entries()

    from homemade_vector_db_spark.session import get_spark

    from perfbench.tracing import Tracer

    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores,
                      extra_conf=_spark_conf())
    session_s = time.perf_counter() - t_setup
    tracer = Tracer(spark, enabled=bool(args.trace))
    tracer.install()
    runner = workloads.Runner(spark, tracer, deadline=T_START + RUN_DEADLINE_S)
    marks = []
    res = None
    error = None
    try:
        res = workloads.WORKLOADS[args.workload](
            spark, runner, sf_dir, args.seed, args.seconds,
            lambda: marks.append(time.perf_counter()),
        )
    except Exception as e:  # setup itself failed: no result
        error = f"{type(e).__name__}: {e}"
    result = None
    try:
        rss = {"python_mb": _hwm_mb("self")}
        jvm = {}
        try:
            rss["jvm_mb"] = _hwm_mb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
            jvm = _jvm_memory(spark)
        except Exception as e:  # JVM already gone; record what we have
            error = error or f"JVM unavailable at end of run: {e}"
        rss_mb = sum(rss.values())
        setup_s = (marks[0] - t_setup) if marks else math.nan

        record = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "trace": args.trace, "seconds": args.seconds,
            "utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
            "env": env, "spark_conf": _spark_conf_snapshot(spark), "error": error,
            "peak_rss": rss, "jvm": jvm,
        }
        if res is not None:
            e2e, detail = end_to_end(res, setup_s, rss_mb)
            detail.update({f"jvm_{k}": v for k, v in jvm.items()})
            failed = sum(not o.ok for o in res.ops) + len(res.checks_failed)
            attempted = len(res.ops) + len(res.checks_failed)
            metrics = e2e
            if args.trace:
                cov = coverage(tracer, args.workload, res.window)
                cov_ok = all(c["ok"] for c in cov.values())
                record["coverage"] = cov
                record["layers"] = {
                    phase: {n: tracer.totals(n, w) for n in sorted({sp.name for sp in tracer.spans})}
                    for phase, w in (("setup", (0.0, res.window[0])), ("timed", res.window))
                }
                metrics = per_layer(tracer, spark, res, cores, session_s, detail, e2e, cov_ok)
                record["overhead_vs_untraced"] = _overhead(key.replace("trace1", "trace0"), e2e)
                if not cov_ok:
                    res.checks_failed.append("layer wrapper coverage self-check failed")
                    failed += 1
                    attempted += 1
            record.update({
                "end_to_end": {k: v[0] for k, v in e2e.items()},
                "detail": detail,
                "metrics": {k: v[0] for k, v in metrics.items()},
                "failures": [{"kind": o.kind, "error": o.error} for o in res.ops if not o.ok]
                + [{"kind": "check", "error": c} for c in res.checks_failed],
                "extra": res.extra,
                "ops": [[o.kind, round(o.seconds, 4), o.ok, o.detail] for o in res.ops],
            })
            result = {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
            }
    finally:
        tracer.uninstall()
        _stop(spark)
        _cleanup(work, derived_before)
    out_dir = ROOT / ".perfbench_runs"
    out_dir.mkdir(exist_ok=True)
    stamp = record["utc"].replace(":", "")
    (out_dir / f"{key}-{stamp}.json").write_text(json.dumps(record, indent=1, default=str))
    if result is None:
        print(f"run failed before measuring: {error}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


def _overhead(untraced_key: str, e2e: dict) -> dict:
    """Traced over untraced end-to-end values, against the latest untraced
    record of the same workload, seed and core count (if there is one)."""
    runs = sorted((ROOT / ".perfbench_runs").glob(f"{untraced_key}-*.json"))
    if not runs:
        return {}
    base = json.loads(runs[-1].read_text()).get("end_to_end", {})
    return {k: e2e[k][0] / v for k, v in base.items() if k in e2e and v}


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    except Exception:  # a dead JVM cannot be stopped; nothing left to release
        pass
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)


def _spark_conf_snapshot(spark) -> dict:
    try:
        return {k: v for k, v in spark.sparkContext.getConf().getAll()
                if k.startswith(("spark.sql.shuffle", "spark.master", "spark.driver.memory",
                                 "spark.sql.adaptive", "spark.ui.retained"))}
    except Exception as e:  # JVM gone
        return {"unavailable": str(e)}


def _derived_entries() -> set[Path]:
    """Files the engine derives from its inputs and keeps between sessions."""
    dirs = (ROOT / "spark-warehouse" / "derived", ROOT / "fixtures")
    return {p for d in dirs if d.is_dir() for p in d.iterdir()}


def _cleanup(work: Path, before: set[Path]) -> None:
    """Remove the run's inputs, scratch and the derived state it created."""
    shutil.rmtree(work, ignore_errors=True)
    for p in _derived_entries() - before:
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.unlink(missing_ok=True)


if __name__ == "__main__":
    sys.exit(main())
