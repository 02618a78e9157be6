"""perfbench: the repository's benchmark, one workload per fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from the seed and
cached under ``.perfbench_work/``; the Spark session is sized from the
host (``nproc``, ``/proc/meminfo``). The run makes a cold job, then warm
jobs one after another for ``--seconds``, checks every job's output
against an independent DuckDB reference, and prints one JSON object as
the last line of standard output: the end-to-end metrics with
``--trace 0``, the per-layer metrics (from Spark's event log and the
benchmark's own spans) with ``--trace 1``. The line before it is the
full report. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # before any heavy import: setup_s starts here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
SCRATCH_BYTES = 1 << 30  # spark-local, event log and pipeline output of one run
KEEP_INPUT_SETS = 12  # cached seeds kept per workload and size


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help="input size: full, or smoke for the self-test")
    ap.add_argument(
        "--corrupt-reference",
        action="store_true",
        help="self-test only: compare against a deliberately wrong reference",
    )
    return ap.parse_args(argv)


def _quartiles(xs: list[float]) -> dict:
    if len(xs) >= 2:
        q1, q2, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q2 = q3 = xs[0]
    return {"q1": q1, "median": q2, "q3": q3, "n": len(xs), "min": min(xs), "max": max(xs)}


def _evict_old_inputs(wl_name: str, size: str) -> None:
    base = os.path.join(WORK, "inputs")
    if not os.path.isdir(base):
        return
    sets = [
        os.path.join(base, d)
        for d in os.listdir(base)
        if d.startswith(f"{wl_name}-{size}-s") and os.path.exists(os.path.join(base, d, "_DONE"))
    ]
    sets.sort(key=lambda d: os.path.getmtime(os.path.join(d, "_DONE")))
    for d in sets[: max(0, len(sets) - KEEP_INPUT_SETS)]:
        shutil.rmtree(d, ignore_errors=True)


def _confine(run_dir: str) -> str:
    """Point every scratch location of this process, the JVMs it launches
    and their Python workers into the run directory, and let the workers
    import the engine from this checkout. Returns the temp directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # workers run this interpreter (the one that has pyspark), and the
    # driver binds to loopback whatever the host name resolves to
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return tmp


def _session(wl_name: str, host, run_dir: str, tmp: str, trace: bool):
    from mapshaper_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{host.driver_heap_mb}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    return get_spark(f"perfbench-{wl_name}", cpus=host.nproc, extra_conf=conf)


def _check_generators(spark, wl, cache, off: int) -> bool:
    """The point SQL over ``spark.range`` (key offset = the seed's) equals
    the generated input, and at offset 0 equals ``fixtures.images_df``'s
    lon/lat; ``exceptAll`` both ways, at a small n."""
    from pyspark.sql import functions as F

    from mapshaper_spark import fixtures

    n = min(2000, wl.items_per_job)

    def sql_form(lo: int):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("key"),
            F.expr(fixtures.point_lon_sql("id")).alias("lon"),
            F.expr(fixtures.point_lat_sql("id")).alias("lat"),
        )

    def diff(a, b):
        return a.exceptAll(b).union(b.exceptAll(a))

    key = F.expr("CAST(substring(image_id, 4) AS BIGINT)").alias("key")
    imgs = fixtures.images_df(spark, n, partitions=2).select(key, "lon", "lat")
    generated = spark.read.parquet(wl.sample_input(cache))
    generated = generated.select(
        key if "image_id" in generated.columns else F.col("point_id").alias("key"), "lon", "lat"
    ).filter(F.col("key").between(off, off + n - 1))
    # one action for both comparisons
    return diff(sql_form(0), imgs).union(diff(sql_form(off), generated)).count() == 0


def _per_layer(log, wl, jobs, spans, isolated: dict, session_start_s: float, gen_s: float) -> dict:
    """Every per-layer metric of BENCHMARK.json from the parsed event log,
    the benchmark's spans and the jobs' durable-state notes; per warm job
    unless the README says otherwise, 0 for a layer the workload skips."""
    from statistics import median

    warm = [j for j in jobs if j.phase == "warm"]
    n = max(1, len(warm))
    resume = [j for j in jobs if j.phase == "resume"]
    m: dict[str, float] = {}

    def per_job(x: float) -> float:
        return x / n

    def med(name: str) -> float:
        ds = [r["end"] - r["start"] for r in spans.rows if r["name"] == name and r.get("phase") == "warm"]
        return median(ds) if ds else 0.0

    m["session.start_s"] = session_start_s
    m["inputs.gen_s"] = gen_s
    m["sources.scan_s"] = per_job(log.metric("scan", "scan time", "warm"))
    m["sources.scan_bytes"] = per_job(log.metric("scan", "size of files read", "warm"))
    m["cells.scan_with_cell_s"] = isolated.get("cells.scan_with_cell_s", 0.0)

    def py_init(label: str) -> float:
        return per_job(
            log.metric(label, "time to start Python workers", "warm")
            + log.metric(label, "time to initialize Python workers", "warm")
        )

    m["spatial_join.index_build_s"] = per_job(
        sum(t["dur_ms"] for t in log.task_rows("warm") if "index.build" in t["labels"]) / 1000.0
    )
    m["spatial_join.index_py_init_s"] = py_init("index.build")
    m["spatial_join.pip_py_init_s"] = py_init("pip.eval")
    m["spatial_join.pip_py_run_s"] = per_job(log.metric("pip.eval", "time to run Python workers", "warm"))
    m["spatial_join.pip_bytes_to_py"] = per_job(log.metric("pip.eval", "data sent to Python workers", "warm"))
    cand = log.metric("pip.eval", "number of output rows", "warm")
    m["spatial_join.pip_candidates"] = per_job(cand)
    m["spatial_join.pip_hit_ratio"] = log.metric("pip.hits", "number of output rows", "warm") / cand if cand else 0.0
    m["spatial_join.broadcast_build_s"] = per_job(
        log.metric("index.broadcast", "time to build", "warm") + log.metric("index.broadcast", "time to broadcast", "warm")
    )
    m["tiles.agg_build_s"] = per_job(log.metric("tiles.agg", "time in aggregation build", "warm"))
    m["tiles.shuffle_bytes"] = per_job(log.metric("tiles.exchange", "shuffle bytes written", "warm"))

    m["images.verify_s"] = isolated.get("images.verify_s", 0.0)
    m["images.py_init_s"] = py_init("images.verify")
    m["images.py_run_s"] = per_job(log.metric("images.verify", "time to run Python workers", "warm"))
    m["images.bytes_to_py"] = per_job(log.metric("images.verify", "data sent to Python workers", "warm"))
    m["images.invariant_fail_rows"] = float(sum(j.extra.get("invalid_rows", 0) for j in jobs))

    m["knn.call_s"] = med("knn.call")
    m["knn.action_s"] = med("knn.action")
    m["knn.jobs"] = per_job(len(log.jobs("warm", "knn.")))
    m["knn.candidates_per_point"] = (
        per_job(log.metric("join.candidates", "number of output rows", "warm", "knn.")) / wl.items_per_job
        if wl.name == "knn" else 0.0
    )
    m["knn.sort_s"] = per_job(log.metric("sort", "sort time", "warm", "knn."))
    m["knn.sort_peak_bytes"] = log.metric("sort", "peak memory", "warm", "knn.", agg=max)
    m["knn.shuffle_bytes"] = per_job(log.metric("exchange", "shuffle bytes written", "warm", "knn."))

    passes = [j for j in warm if "rows_written" in j.extra]
    m["pipeline.build_s"] = med("pipeline.build")
    m["pipeline.resume_s"] = median([j.wall_s for j in resume]) if resume else 0.0
    m["pipeline.bytes_per_row"] = (
        median([j.extra["bytes_written"] / max(1, j.extra["rows_written"]) for j in passes]) if passes else 0.0
    )
    m["lineage.run_stage_s"] = per_job(log.job_seconds("warm", "pipeline.build")) if passes else 0.0
    m["lineage.jobs_per_stage"] = per_job(len(log.jobs("warm", "pipeline.build"))) if passes else 0.0
    m["lineage.bytes_written"] = median([j.extra["bytes_written"] for j in passes]) if passes else 0.0
    m["lineage.files_written"] = median([j.extra["files_written"] for j in passes]) if passes else 0.0
    m["lineage.buckets_done"] = median([j.extra["lineage_buckets"] for j in passes]) if passes else 0.0
    m["lineage.buckets_skipped"] = median([j.extra["buckets_before"] for j in resume]) if resume else 0.0
    written = sum(j.extra["rows_written"] for j in passes if j.index in {r.index for r in resume})
    m["lineage.replay_rows_recomputed"] = (
        log.metric("pip.eval", "number of output rows", "resume", "pipeline.build") / written if written and resume else 0.0
    )

    m["spark.jobs"] = per_job(len(log.jobs("warm")))
    m["spark.stages"] = per_job(len(log.stages("warm")))
    warm_tasks = log.task_rows("warm")
    m["spark.tasks"] = per_job(len(warm_tasks))
    m["spark.task_skew"] = log.task_skew("warm")
    m["spark.shuffle_write_bytes"] = per_job(sum(t["shuffle_write"] for t in warm_tasks))
    m["spark.spill_bytes"] = per_job(sum(t["spill"] for t in warm_tasks))
    return m


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mapshaper_spark")):
        print(f"perfbench: no mapshaper_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.setdefault("PYTHONDONTWRITEBYTECODE", "1")

    import duckdb

    from perfbench import host as host_mod
    from perfbench import inputs as inp
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    wl = WORKLOADS[args.workload](args.size)
    host = host_mod.probe_host()
    off = inp.key_offset(args.seed)
    spans = host_mod.Spans(t0=T_PROCESS)
    tag = f"{wl.name}-{args.size}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)

    tmp = _confine(run_dir)

    def duck():
        return duckdb.connect(config={"temp_directory": tmp})

    # inputs: generated without Spark on a miss, timed apart from setup
    cache = inp.Cache(WORK, wl.name, wl.input_tag, args.seed)
    gen_s = 0.0
    hit = cache.present()
    host_mod.check_disk(ROOT, SCRATCH_BYTES + (0 if hit else wl.input_bytes))
    if not hit:
        t = time.perf_counter()
        shutil.rmtree(cache.dir, ignore_errors=True)
        os.makedirs(cache.dir)
        with duck() as con:
            wl.generate(cache, con, off)
        cache.mark_done({"seed": args.seed, "key_offset": off})
        _evict_old_inputs(wl.name, wl.input_tag)
        gen_s = time.perf_counter() - t

    with spans.span("session.start"):
        spark = _session(wl.name, host, run_dir, tmp, bool(args.trace))
    try:
        if not cache.present():  # the inputs are verified present before timing
            raise SystemExit(f"perfbench: inputs missing under {cache.dir}")
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        session_start_s = spans.durations("session.start")[0]
        ctx = Ctx(spark, spans, run_dir)
        isolated: dict = {}
        with host_mod.RssSampler() as rss:
            jobs = wl.measure(ctx, cache, args.seconds)
            if args.trace:
                isolated, checks = wl.isolated(ctx, cache)
                gen_ok = ctx.job("check", 1, lambda j: _check_generators(spark, wl, cache, off))
                gen_ok.ok = gen_ok.ok is not False and bool(gen_ok.out)
                jobs += checks + [gen_ok]
    finally:
        host_mod.stop_session(spark)  # waits until the JVM and its workers have ended

    with duck() as con:
        wl.corrupt_reference = args.corrupt_reference
        wl.check([j for j in jobs if j.ok is None], cache, con)

    attempted = len(jobs)
    failed = sum(1 for j in jobs if not j.ok)
    warm = [j.wall_s for j in jobs if j.phase == "warm"]
    cold = [j.wall_s for j in jobs if j.phase == "cold"]
    job_q = _quartiles(warm)
    e2e = {
        "setup_s": setup_s,
        "cold_job_s": cold[0],
        "job_s": job_q["median"],
        "items_per_s": wl.items_per_job / job_q["median"],
    }
    report = {
        "workload": wl.name,
        "size": args.size,
        "seed": args.seed,
        "trace": args.trace,
        "host": host.as_report(),
        "inputs": {"cache_hit": hit, "gen_s": gen_s, "items_per_job": wl.items_per_job},
        "job_s": job_q,
        "cold_job_s": cold[0],
        "warmup_job_s": [j.wall_s for j in jobs if j.phase == "warmup"],
        "failed_ratio": failed / attempted,
        "failed_jobs": [f"{j.phase}#{j.index}" + (f": {j.error}" if j.error else "") for j in jobs if not j.ok],
        "end_to_end": e2e,
        "peak_rss_mb": rss.peak_kb / 1024.0,
    }
    resumes = [j.wall_s for j in jobs if j.phase == "resume"]
    if resumes:
        report["resume_s"] = _quartiles(resumes)

    last_untraced = os.path.join(results_dir, f"last-{wl.name}-{args.size}.json")
    if args.trace:
        from perfbench.eventlog import EventLog

        log = EventLog(os.path.join(run_dir, "eventlog"))
        layers = _per_layer(log, wl, jobs, spans, isolated, session_start_s, gen_s)
        layers["peak_rss_mb"] = rss.peak_kb / 1024.0
        layers["trace.job_s"] = job_q["median"]
        basis = None
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                basis = json.load(f)["job_s"]
        # overhead against the latest untraced run of this workload here
        layers["trace.overhead_s"] = job_q["median"] - basis if basis else 0.0
        report["trace_overhead_basis_job_s"] = basis
        report["per_layer"] = layers
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        with open(last_untraced, "w") as f:
            json.dump({"job_s": job_q["median"], "seed": args.seed}, f)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}

    host_mod.end_descendants()
    spans.write(os.path.join(results_dir, f"spans-{tag}.json"))
    with open(os.path.join(results_dir, f"report-{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
