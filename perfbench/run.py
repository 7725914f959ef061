"""Benchmark entry point: run one workload, check its outputs, print
its metrics.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is the full record of the run (host, seed, every metric, and the
spans of a traced run); ``--out FILE`` also appends that record to FILE.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout, which is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import time
import traceback
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

E2E_UNITS = {
    "setup_s": "s",
    "ingest_s": "s",
    "op_ms": "ms",
}

LAYER_UNITS = {
    # plans.crawl — fixed cost per round
    "crawl.round.jobs": "count",
    "crawl.round.tasks": "count",
    "crawl.round.busy_share": "ratio",
    "crawl.urls_per_job": "count",
    "crawl.start_s": "s",
    # plans.crawl — data path
    "crawl.round.cpu_s": "s",
    "crawl.round.gc_s": "s",
    "crawl.round.shuffle_read_mb": "MB",
    "crawl.round.shuffle_write_mb": "MB",
    "crawl.round.spill_mb": "MB",
    "crawl.admitted": "count",
    "crawl.fetched": "count",
    "crawl.new_urls": "count",
    "crawl.robots_denied": "count",
    "crawl.bytes_fetched": "B",
    "crawl.fetch_yield": "ratio",
    "crawl.urls_per_s": "1/s",
    # plans.crawl — resume
    "crawl.resume_s": "s",
    "crawl.resume.jobs": "count",
    # sources.checkpoints
    "checkpoints.bytes_per_round": "B",
    "checkpoints.files_per_round": "count",
    "checkpoints.final_mb": "MB",
    "checkpoints.final_files": "count",
    "checkpoints.bytes_per_url": "B",
    # plans.indexer
    "indexer.build_s": "s",
    "indexer.write_s": "s",
    "indexer.read_s": "s",
    "indexer.jobs": "count",
    "indexer.cpu_s": "s",
    "indexer.busy_share": "ratio",
    "indexer.shuffle_write_mb": "MB",
    "indexer.spill_mb": "MB",
    "indexer.docs": "count",
    "indexer.postings": "count",
    "indexer.index_mb": "MB",
    "indexer.dedup_ratio": "ratio",
    # plans.search
    "search.serve.jobs_per_query": "count",
    "search.serve.tasks_per_query": "count",
    "search.serve.busy_share": "ratio",
    "search.serve_load_s": "s",
    "search.serve_p90_ms": "ms",
    "search.serve_qps": "1/s",
    "search.hit_ratio": "ratio",
    "search.search.jobs_per_query": "count",
    "search.search_p50_ms": "ms",
    # the driver process and its JVM
    "memory.peak_rss_mb": "MB",
    # the trace itself
    "trace.wall_s": "s",
    "trace.self_sum_s": "s",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _best_wall(spans) -> float:
    """The fastest of repetitions of the same step (0 if none ran)."""
    return min((s.wall for s in spans), default=0.0)


def layer_metrics(tr, res, groups: dict, cores: int) -> dict:
    """Per-layer metrics from the spans, the Spark event log's per-group
    sums and the workload's own counts. A layer the workload does not
    touch reports 0. A step that repeats reports its fastest time and
    its mean counts."""
    from perfbench.spans import sum_groups

    mb = 1024.0 * 1024.0

    def spark(spans):
        return sum_groups(tr.subtree(spans), groups)

    rounds = tr.named("crawl.round")
    resumes = tr.named("crawl.resume")
    rsum = spark(rounds)
    rwall = sum(s.wall for s in rounds)
    n_rounds = max(len(rounds), 1)
    infos = res.crawl_infos
    n_crawls = max(len(tr.named("crawl")), 1)
    # per crawl: the crawls repeat the same work
    tot = {k: sum(i[k] for i in infos) / n_crawls for k in
           ("admitted", "fetched", "new_urls", "robots_denied", "bytes_fetched")}
    m = {
        "crawl.round.jobs": rsum["jobs"] / n_rounds,
        "crawl.round.tasks": rsum["tasks"] / n_rounds,
        "crawl.round.busy_share": _ratio(rsum["run_s"], rwall * cores),
        "crawl.urls_per_job": _ratio(sum(i["admitted"] for i in infos), rsum["jobs"]),
        "crawl.start_s": _best_wall(tr.named("crawl.start")),
        "crawl.round.cpu_s": rsum["cpu_s"] / n_rounds,
        "crawl.round.gc_s": rsum["gc_s"] / n_rounds,
        "crawl.round.shuffle_read_mb": rsum["shuffle_read_mb"] / n_rounds,
        "crawl.round.shuffle_write_mb": rsum["shuffle_write_mb"] / n_rounds,
        "crawl.round.spill_mb": rsum["spill_mb"] / n_rounds,
        **{f"crawl.{k}": v for k, v in tot.items()},
        "crawl.fetch_yield": _ratio(tot["fetched"], tot["admitted"]),
        "crawl.urls_per_s": _ratio(tot["admitted"], _best_wall(tr.named("crawl"))),
        "crawl.resume_s": _best_wall(resumes),
        "crawl.resume.jobs": _ratio(spark(resumes)["jobs"], len(resumes)),
    }

    ck = res.ckpt
    after = ck.get("after_round", [])
    if after:
        # growth per round, measured from the directory after start()
        prev = [ck["after_start"]] + after[:-1]
        grow = [(a[0] - b[0], a[1] - b[1]) for a, b in zip(after, prev)]
        m["checkpoints.bytes_per_round"] = statistics.mean(g[0] for g in grow)
        m["checkpoints.files_per_round"] = statistics.mean(g[1] for g in grow)
    else:
        m["checkpoints.bytes_per_round"] = m["checkpoints.files_per_round"] = 0.0
    final_b, final_f = ck.get("final", (0, 0))
    m["checkpoints.final_mb"] = final_b / mb
    m["checkpoints.final_files"] = final_f
    m["checkpoints.bytes_per_url"] = _ratio(final_b, ck.get("urls", 0))

    # per build: the builds repeat the same work
    index = tr.named("index")
    isum = spark(index)
    n_builds = max(len(index), 1)
    idx = res.index
    m.update({
        "indexer.build_s": _best_wall(tr.named("indexer.build")),
        "indexer.write_s": _best_wall(tr.named("indexer.write")),
        "indexer.read_s": _best_wall(tr.named("indexer.read")),
        "indexer.jobs": isum["jobs"] / n_builds,
        "indexer.cpu_s": isum["cpu_s"] / n_builds,
        "indexer.busy_share": _ratio(isum["run_s"], sum(s.wall for s in index) * cores),
        "indexer.shuffle_write_mb": isum["shuffle_write_mb"] / n_builds,
        "indexer.spill_mb": isum["spill_mb"] / n_builds,
        "indexer.docs": idx.get("docs", 0),
        "indexer.postings": idx.get("postings", 0),
        "indexer.index_mb": idx.get("bytes", 0) / mb,
        "indexer.dedup_ratio": _ratio(idx.get("docs", 0), idx.get("pages", 0)),
    })

    single = tr.named("serve.single")
    queries = [s for s in tr.subtree(single) if s.name == "search.query"]
    qsum = spark(single)
    lat = sorted(res.serve.get("latencies", []))
    searches = tr.named("search.search")
    m.update({
        "search.serve.jobs_per_query": _ratio(qsum["jobs"], len(queries)),
        "search.serve.tasks_per_query": _ratio(qsum["tasks"], len(queries)),
        "search.serve.busy_share": _ratio(qsum["run_s"],
                                          sum(s.wall for s in single) * cores),
        "search.serve_load_s": _best_wall(tr.named("serve.load")),
        "search.serve_qps": res.serve.get("qps", 0.0),
        "search.serve_p90_ms": (statistics.quantiles(lat, n=10)[-1] * 1e3
                                if len(lat) >= 2 else 0.0),
        "search.hit_ratio": _ratio(res.serve.get("hits", 0), res.serve.get("answers", 0)),
        "search.search.jobs_per_query": _ratio(spark(searches)["jobs"], len(searches)),
        "search.search_p50_ms": _best_wall(searches) * 1e3,
    })

    m["memory.peak_rss_mb"] = res.peak_rss_mb
    root = tr.spans[0]
    m["trace.wall_s"] = root.wall
    m["trace.self_sum_s"] = sum(tr.self_times().values())
    return m


def _peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _prepare_env(work: Path, traced: bool) -> None:
    """Point every temporary file of Spark, its JVM and its Python
    workers into ``work``; make the engine importable in the workers;
    switch the event log on for traced runs only. The engine's
    get_spark() configuration is left as it is."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if traced:
        logs = work / "eventlog"
        logs.mkdir()
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{logs}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_session() -> None:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def _shutdown_gateway() -> None:
    """Stop the driver JVM the session started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("default", "toy"), default="default")
    ap.add_argument("--out", help="append the run's full record to this file")
    args = ap.parse_args(argv)

    if not (ROOT / "web_crawler_search_engine_spark" / "plans" / "crawl.py").is_file() \
            or not (ROOT / "tests" / "oracle" / "simulator.py").is_file():
        print(f"perfbench: the engine package and tests/oracle are not in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.spans import Tracer, read_event_logs
    from perfbench.workloads import WORKLOADS, nproc

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    traced = bool(args.trace)
    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir()
    _prepare_env(work, traced)
    load_start = os.getloadavg()
    tr = Tracer(uuid.uuid4().hex[:12], job_groups=traced)
    res = None
    error = None
    groups: dict = {}
    try:
        with tr.span("run", "bench"):
            res = WORKLOADS[args.workload](tr, args.seed, args.seconds, args.scale,
                                           work, traced)
        res.peak_rss_mb = _peak_rss_mb(res.spark)
        _stop_session()  # flushes the event log
        if traced:
            groups = read_event_logs(work / "eventlog")
    except Exception as exc:  # reported as a failed run below
        traceback.print_exc()
        error = repr(exc)
    finally:
        _stop_session()
        _shutdown_gateway()
        shutil.rmtree(work, ignore_errors=True)

    problems = ([f"run failed: {error}"] if error else []) + (res.problems if res else [])
    correct = error is None and not res.problems
    ok = correct and tr.failed == 0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "run_id": tr.run_id,
        "nproc": nproc(),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "correct": correct,
        "attempted": tr.attempted,
        "failed": tr.failed,
        "errors": tr.errors,
        "problems": problems,
    }
    metrics: dict = {}
    if ok:
        record["e2e"] = res.e2e
        record["peak_rss_mb"] = res.peak_rss_mb
        metrics = {k: {"value": res.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        if traced:
            layers = layer_metrics(tr, res, groups, nproc())
            record["layers"] = layers
            record["spans"] = tr.dump()
            metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    line = json.dumps(record)
    if args.out:
        with open(args.out, "a") as fh:
            fh.write(line + "\n")
    print(line)
    print(json.dumps({"correct": correct, "attempted": max(tr.attempted, 1),
                      "failed": tr.failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
