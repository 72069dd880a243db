"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 10 --trace 0

Prints, as the last line of stdout, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
Exits 1 if any answer check failed, 2 if the engine sources are missing.
Everything the run writes stays under `.perfbench_work/` (removed at exit)
and `.perfbench_cache/` (serve_point's base index, kept). When that index is
missing, a child process (`--build-base-index`) builds it before the
measured process starts Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--build-base-index", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def start_spark(work: str, cores: int, traced: bool):
    from colbert_spark.session import get_spark

    conf = {
        # a small heap: the corpus is small
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    # one task slot per core, never the engine's 32-slot default
    return get_spark("perfbench", cpus=cores, shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark, wait_for: list[int]) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from perfbench.host import wait_gone

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(wait_for)


def end_to_end(run, peak_rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": run.setup_s,
        "queries_per_s": run.queries_per_s,
        "query_p50_ms": run.query_p50_ms,
        "peak_rss_mb": peak_rss_mb,
        "index_bytes_per_posting": run.index_bytes / run.postings,
    }


def per_layer(names, run, tracer, jobs, cores: int, extra: dict[str, float]) -> dict[str, float]:
    """Fold spans and event-log jobs into the per-layer metrics; a layer the
    workload does not exercise reads 0."""
    from perfbench.trace import Fold, spark_totals, union_s

    fold = Fold(tracer.spans, jobs)
    m = dict.fromkeys(names, 0.0)
    m.update(run.layer)
    m.update(extra)

    def durs(name: str) -> list[float]:
        return [s.dur for s in fold.named(name)]

    m["session.start_s"] = sum(durs("session.start"))
    m["sources.corpus_s"] = sum(durs("sources.corpus"))
    m["query.warm_s"] = statistics.median(durs("query.warm") or [0.0])
    m["query.pool_fill_s"] = statistics.median(durs("query.pool_fill") or [0.0])

    builds = fold.named("index.build")
    if builds:
        wall = sum(s.dur for s in builds)
        sp = spark_totals(fold.jobs(builds))
        m["index.build.wall_s"] = wall
        for k in ("spark_jobs", "executor_run_s", "executor_cpu_s", "python_run_s",
                  "to_python_mb", "from_python_mb", "shuffle_write_mb", "spill_mb", "gc_s"):
            m[f"index.build.{k}"] = sp[k]
        m["index.build.slot_busy_share"] = sp["executor_run_s"] / (wall * cores)

    for layer, keys in (
        ("index.append", ("spark_jobs", "executor_run_s", "python_run_s")),
        ("index.delete", ("spark_jobs",)),
    ):
        spans = fold.named(layer)
        if spans:
            sp = spark_totals(fold.jobs(spans))
            m[f"{layer}.wall_ms"] = statistics.mean(s.dur for s in spans) * 1e3
            for k in keys:
                m[f"{layer}.{k}"] = sp[k] / len(spans)

    compacts = fold.named("index.compact")
    if compacts:
        sp = spark_totals(fold.jobs(compacts))
        m["index.compact.wall_s"] = sum(s.dur for s in compacts)
        for k in ("spark_jobs", "executor_run_s", "python_run_s", "spill_mb"):
            m[f"index.compact.{k}"] = sp[k]

    points = fold.named("query.point", under="window")
    if points:
        n = len(points)
        below = [x for p in points for x in fold.subtree(p)[1:]]
        tok = [x for x in below if x.name in ("functions.tokenize", "functions.analyze")]
        dec = [x for x in below if x.name == "index.codec.decode"]
        pj = fold.jobs(points)
        m["functions.tokenize_us"] = sum(x.dur for x in tok) / n * 1e6
        m["index.codec.decode_calls_per_query"] = len(dec) / n
        m["index.codec.decode_us_per_query"] = sum(x.dur for x in dec) / n * 1e6
        m["query.point.self_us"] = statistics.mean(fold.self_s(p) for p in points) * 1e6
        m["query.point.spark_jobs_per_query"] = len(pj) / n
        m["query.point.fetch_ms_per_query"] = union_s([(j.start, j.end) for j in pj]) / n * 1e3

    searches = fold.named("query.search", under="window")
    if searches:
        n = len(searches)
        sp = spark_totals(fold.jobs(searches))
        for k in ("spark_jobs", "tasks", "executor_run_s", "executor_cpu_s", "python_run_s",
                  "to_python_mb", "from_python_mb", "shuffle_write_mb", "gc_s"):
            m[f"query.batch.{k}"] = sp[k] / n
        m["query.batch.driver_ms"] = statistics.mean(
            s.dur - union_s([(j.start, min(j.end, s.end)) for j in fold.jobs([s])])
            for s in searches
        ) * 1e3
        m["query.batch.slot_busy_share"] = sp["executor_run_s"] / (sum(s.dur for s in searches) * cores)

    windows = fold.named("window")
    if windows:
        w = windows[0]
        kids = fold.children.get(w.id, [])
        checks = sum(k.dur for k in kids if k.name == "check")
        covered = union_s([(k.start, k.end) for k in kids if k.name != "check"])
        m["trace.span_coverage"] = covered / (w.dur - checks)
    m["trace.overhead_share"] = tracer.overhead_s / (time.perf_counter() - T_START)

    m["failed_share"] = run.failed / max(run.attempted, 1)
    return m


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "colbert_spark", "__init__.py")):
        print(f"perfbench: no colbert_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # import the benchmark as a package: its own directory must not shadow
    # standard modules (it has a trace.py)
    sys.path[0] = ROOT
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's Python workers import the engine from this checkout; every
    # temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None

    try:
        if args.build_base_index:
            return _build_base_index(work)
        return _measure(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _build_base_index(work: str) -> int:
    """Child process: build serve_point's base index into the cache."""
    from perfbench import host, trace, workloads

    cores = len(os.sched_getaffinity(0))
    ctx = workloads.Ctx(root=ROOT, work=work, seed=0, seconds=0.0,
                        tracer=trace.Tracer(False), cores=cores, t_start=time.perf_counter())
    ctx.spark = start_spark(work, cores, traced=False)
    try:
        workloads.build_base_index(ctx)
    finally:
        stop_spark(ctx.spark, host.descendants())
    return 0


def _measure(args: argparse.Namespace, spec: dict, work: str) -> int:
    from perfbench import host, trace, workloads

    if args.workload in workloads.NEEDS_BASE_INDEX and not workloads.has_base_index(ROOT):
        # built in a process of its own, so neither its time nor its memory
        # nor the JVM warm-up it would leave behind is in this run's figures
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", "0", "--build-base-index"],
            stdout=sys.stderr,
        )
        if child.returncode != 0 or not workloads.has_base_index(ROOT):
            print("perfbench: building the base index failed", file=sys.stderr)
            return 2

    cores = len(os.sched_getaffinity(0))
    tracer = trace.Tracer(args.trace == 1)
    steal = host.Steal()
    gflops_start = host.probe_gflops()
    ctx = workloads.Ctx(
        root=ROOT, work=work, seed=args.seed, seconds=args.seconds, tracer=tracer,
        cores=cores, t_start=time.perf_counter(),
    )
    spark = None
    try:
        with host.PeakRss() as rss:
            with tracer.span("session.start", label=False):
                spark = start_spark(work, cores, tracer.enabled)
            ctx.spark = spark
            tracer.bind(spark.sparkContext)
            tracer.wrap("colbert_spark.query.wand", "py_tokenize", "functions.tokenize")
            tracer.wrap("colbert_spark.functions.analyzer", "py_analyze", "functions.analyze")
            tracer.wrap("colbert_spark.query.wand", "decode_block", "index.codec.decode")
            run = workloads.WORKLOADS[args.workload](ctx)
    finally:
        tracer.unwrap()
        if spark is not None:
            stop_spark(spark, host.descendants())
    gflops_end = host.probe_gflops()
    steal_share = steal.share()
    print(f"perfbench: host steal {steal_share:.3f}, probe {gflops_start:.0f} -> "
          f"{gflops_end:.0f} GFLOP/s", file=sys.stderr)

    if tracer.enabled:
        jobs = trace.read_event_log(os.path.join(work, "eventlog"))
        extra = {"host.probe_gflops_start": gflops_start, "host.probe_gflops_end": gflops_end,
                 "host.steal_share": steal_share}
        values = per_layer([m["name"] for m in spec["per_layer"]], run, tracer, jobs, cores, extra)
        section = spec["per_layer"]
    else:
        values = end_to_end(run, rss.peak_mb)
        section = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in section}
    for e in run.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
