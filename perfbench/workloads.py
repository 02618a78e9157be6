"""The benchmark's workloads: inputs, one closed-loop job, output checks.

Each job drives the engine from outside, through its public functions
only. A job is timed from the first engine call to the collected result
in the driver; one job runs at a time (closed loop).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from mapshaper_spark import cells
from mapshaper_spark.operators import images as images_op
from mapshaper_spark.operators import knn as knn_op
from mapshaper_spark.operators import spatial_join as sj
from mapshaper_spark.plans import pipeline as pipeline_mod
from mapshaper_spark.sources import testdata

from . import inputs as inp
from .host import data_files, dir_bytes_files

# The JVM keeps getting faster over the first 4-6 jobs of a session. The
# warm-up jobs (run and checked, not timed into job_s) take the steepest
# part; at least MIN_WARM_JOBS timed jobs make a slow run time the same
# jobs of the session as a fast one. More would not fit the run budget
# when the host is loaded (see README).
WARMUP_JOBS = 2
MIN_WARM_JOBS = 3


@dataclass
class Job:
    phase: str  # cold | warmup | warm | resume | check
    index: int
    wall_s: float = 0.0
    out: object = None
    ok: bool | None = None
    error: str | None = None
    extra: dict = field(default_factory=dict)


class Ctx:
    """The running session plus the run's spans and scratch directory."""

    def __init__(self, spark, spans, run_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans = spans
        self.run_dir = run_dir

    def call(self, phase: str, index: int, layer: str, fn):
        """Run one layer call under a job description (what the event-log
        parser attributes by) and a benchmark span."""
        self.sc.setJobDescription(f"pb|{phase}|{index}|{layer}")
        with self.spans.span(layer, phase=phase, index=index):
            return fn()

    def job(self, phase: str, index: int, body) -> Job:
        """Time ``body(job)``; an exception counts the job as failed."""
        j = Job(phase, index)
        t = time.perf_counter()
        with self.spans.span("job", phase=phase, index=index):
            try:
                j.out = body(j)
            except Exception as e:  # a failed job is counted, not fatal
                j.ok, j.error = False, f"{type(e).__name__}: {e}"
        j.wall_s = time.perf_counter() - t
        self.sc.setJobDescription(None)
        return j


def closed_loop(seconds: float, step) -> list[Job]:
    """Cold step, WARMUP_JOBS warm-up steps, then warm steps until
    ``seconds`` have passed (at least MIN_WARM_JOBS). ``step(phase, i)``
    returns the Jobs it ran, or [] when it has no input left."""
    jobs = step("cold", 0)
    for i in range(1, WARMUP_JOBS + 1):
        jobs += step("warmup", i)
    t0 = time.perf_counter()
    i, n_warm = WARMUP_JOBS + 1, 0
    while n_warm < MIN_WARM_JOBS or time.perf_counter() - t0 < seconds:
        new = step("warm", i)
        if not new:
            break
        jobs += new
        i, n_warm = i + 1, n_warm + 1
    return jobs


def _invalid():
    """1 for a verified image row that fails an invariant, else 0."""
    return (~(F.col("phash_ok") & F.col("caption_ok") & (F.col("psnr_db") >= 40.0))).cast("long")


def _tile_cols(df):
    tx, ty = cells.tile_sql("lon", "lat", inp.TILE_Z)
    return df.withColumn("tile_x", F.expr(tx)).withColumn("tile_y", F.expr(ty))


def _counts(rows) -> dict[str, int]:
    return {f"{r['poly_id']},{r['tile_x']},{r['tile_y']}": int(r["n"]) for r in rows}


def _scan_with_cell(ctx: Ctx, path: str, runs: int = 3) -> float:
    """Median wall of scan -> with_cell -> noop sink: the floor under any
    job that reads these points."""
    walls = []
    for i in range(runs):
        t = time.perf_counter()
        ctx.call(
            "isolated", i, "cells.scan_with_cell",
            lambda: sj.with_cell(ctx.spark.read.parquet(path).select("lon", "lat"))
            .write.format("noop").mode("overwrite").save(),
        )
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


# ------------------------------------------------------------- workloads ---


class Workload:
    """One workload at one input size (``full``, or ``smoke`` for the
    self-test); ``self.p`` holds the size's parameters."""

    name: str
    sizes: dict[str, dict]
    items_per_job: int  # input points or images one job processes
    input_bytes: int  # disk the cached inputs (and outputs) need
    # self-test only: check against a deliberately wrong reference
    corrupt_reference = False

    def __init__(self, size: str):
        if size not in self.sizes:
            raise SystemExit(f"perfbench: size {size!r} not in {sorted(self.sizes)}")
        self.p = self.sizes[size]
        # names the cached input sets: a change of the size's parameters
        # must not reuse inputs generated under the old ones
        self.input_tag = "-".join([size] + [f"{k}{v}" for k, v in sorted(self.p.items())])

    def _ref(self, ref: dict) -> dict:
        if not self.corrupt_reference or not ref:
            return ref
        key = sorted(ref)[0]
        return {**ref, key: ref[key] + 1}

    def sample_input(self, cache: inp.Cache) -> str: ...
    def generate(self, cache: inp.Cache, con, off: int) -> None: ...
    def measure(self, ctx: Ctx, cache: inp.Cache, seconds: float) -> list[Job]: ...
    def check(self, jobs: list[Job], cache: inp.Cache, con) -> None: ...
    def isolated(self, ctx: Ctx, cache: inp.Cache) -> tuple[dict, list[Job]]:
        """Traced runs only: isolated layer runs (their per-layer values)
        and extra checks (Jobs)."""


class PayloadVerify(Workload):
    """Full image rows -> verify_invariants (lon/lat passed through) ->
    pip_attribute -> tiles -> count per (poly_id, tile)."""

    name = "payload_verify"
    sizes = {"full": {"n": 12_000, "files": 8}, "smoke": {"n": 400, "files": 2}}

    @property
    def items_per_job(self) -> int:
        return self.p["n"]

    @property
    def input_bytes(self) -> int:
        return self.p["n"] * 6_000

    def sample_input(self, cache):
        return cache.path("images")

    def generate(self, cache, con, off):
        os.makedirs(cache.path("images"), exist_ok=True)
        inp.write_images(cache.path("images"), off, self.p["n"], self.p["files"], len(os.sched_getaffinity(0)))

    def _verified(self, ctx):
        imgs = ctx.spark.read.parquet(self._images)
        return images_op.verify_invariants(imgs, passthrough=["lon", "lat"])

    def _job(self, ctx, phase, i):
        def body(j):
            v = self._verified(ctx)
            idx = sj.build_cell_index(ctx.spark, testdata.polygons(ctx.spark))
            out = _tile_cols(sj.pip_attribute(v, idx)).groupBy("poly_id", "tile_x", "tile_y").agg(
                F.count(F.lit(1)).alias("n"), F.sum(_invalid()).alias("bad")
            )
            rows = ctx.call(phase, i, "images.pip_tiles", out.collect)
            j.extra["bad_rows"] = sum(int(r["bad"]) for r in rows)
            return _counts(rows)

        return [ctx.job(phase, i, body)]

    def measure(self, ctx, cache, seconds):
        self._images = cache.path("images")
        return closed_loop(seconds, lambda ph, i: self._job(ctx, ph, i))

    def check(self, jobs, cache, con):
        ref = self._ref(cache.ref("pip_tiles", lambda: inp.pip_tile_counts(con, cache.path("images") + "/*.parquet")))
        for j in jobs:
            if j.ok is False:
                continue
            if j.phase == "check":
                j.ok = j.out == {"n": self.p["n"], "bad": 0}
            else:
                j.ok = j.out == ref and j.extra["bad_rows"] == 0

    def isolated(self, ctx, cache):
        # every row, not only rows inside a polygon, must pass: one pass
        # over the whole table (traced runs only, to keep untraced runs short)
        def all_rows(j):
            r = ctx.call("check", 0, "images.verify_all", lambda: self._verified(ctx).agg(
                F.count(F.lit(1)).alias("n"), F.sum(_invalid()).alias("bad")
            ).collect()[0])
            j.extra["invalid_rows"] = int(r["bad"] or 0)
            return {"n": int(r["n"]), "bad": j.extra["invalid_rows"]}

        all_rows_job = ctx.job("check", 0, all_rows)
        t = time.perf_counter()
        ctx.call("isolated", 0, "images.verify", lambda: images_op.verify_invariants(
            ctx.spark.read.parquet(cache.path("images"))
        ).write.format("noop").mode("overwrite").save())
        return {
            "images.verify_s": time.perf_counter() - t,
            "cells.scan_with_cell_s": _scan_with_cell(ctx, cache.path("images")),
        }, [all_rows_job]


class PipelineResume(Workload):
    """Batches through run_pipeline: pip_attribute, tile_assign,
    checkpoint (one stage per batch), bbox filter over the durable output,
    count_by. Each batch is then replayed against the lineage."""

    name = "pipeline_resume"
    sizes = {
        "full": {"batch": 100_000, "batches": 16},
        "smoke": {"batch": 5_000, "batches": 10},
    }

    @property
    def items_per_job(self) -> int:
        return self.p["batch"]

    @property
    def input_bytes(self) -> int:
        # inputs plus the durable output and lineage a run writes
        return self.p["batch"] * self.p["batches"] * 40

    def sample_input(self, cache):
        return cache.path("batch-000.parquet")

    def generate(self, cache, con, off):
        for b in range(self.p["batches"]):
            inp.write_points(con, cache.path(f"batch-{b:03d}.parquet"), off + b * self.p["batch"], self.p["batch"])

    def _spec(self, cache, b: int) -> dict:
        out = os.path.join(self._dir, f"out-{b:03d}")
        return {
            "source": {"kind": "parquet", "path": cache.path(f"batch-{b:03d}.parquet")},
            "ops": [
                {"op": "pip_attribute"},
                {"op": "tile_assign", "z": inp.TILE_Z},
                {"op": "checkpoint", "stage": f"b{b:03d}", "out": out, "lineage": self._lineage},
                {"op": "filter", "expr": inp.PIPELINE_BBOX},
                {"op": "count_by", "keys": ["poly_id", "tile_x", "tile_y"]},
            ],
        }

    def _run(self, ctx, phase, b):
        spec = self._spec(self._cache, b)

        def body(j):
            df = ctx.call(phase, b, "pipeline.build", lambda: pipeline_mod.run_pipeline(ctx.spark, spec))
            return _counts(ctx.call(phase, b, "pipeline.action", df.collect))

        j = ctx.job(phase, b, body)
        # durable state after the call, read from the files (untimed)
        j.extra.update(self._durable(b))
        return j

    def _durable(self, b: int) -> dict:
        import pyarrow.parquet as pq

        out = os.path.join(self._dir, f"out-{b:03d}")
        stage = f"b{b:03d}"
        mine = []
        for f in data_files(self._lineage):
            t = pq.read_table(f, columns=["stage", "row_count"]).to_pydict()
            mine += [rc for s, rc in zip(t["stage"], t["row_count"]) if s == stage]
        rows_written = sum(pq.ParquetFile(f).metadata.num_rows for f in data_files(out))
        out_bytes, out_files = dir_bytes_files(out)
        lin_bytes, lin_files = dir_bytes_files(self._lineage)
        return {
            "lineage_buckets": len(mine),
            "lineage_rows": sum(mine),
            "rows_written": rows_written,
            "out_bytes": out_bytes,
            "out_files": out_files,
            "lineage_bytes": lin_bytes,
            "lineage_files": lin_files,
        }

    def measure(self, ctx, cache, seconds):
        self._cache = cache
        self._dir = os.path.join(ctx.run_dir, "pipeline")
        shutil.rmtree(self._dir, ignore_errors=True)
        os.makedirs(self._dir)
        self._lineage = os.path.join(self._dir, "lineage")

        def step(phase, b):
            if b >= self.p["batches"]:
                return []
            lin_bytes, lin_files = dir_bytes_files(self._lineage)
            first = self._run(ctx, phase, b)
            first.extra["bytes_written"] = first.extra["out_bytes"] + first.extra["lineage_bytes"] - lin_bytes
            first.extra["files_written"] = first.extra["out_files"] + first.extra["lineage_files"] - lin_files
            return [first]

        jobs = closed_loop(seconds, step)
        # replay the last batch with every bucket already in the lineage
        last = jobs[-1]
        replay = self._run(ctx, "resume", last.index)
        replay.extra["buckets_before"] = last.extra["lineage_buckets"]
        return jobs + [replay]

    def check(self, jobs, cache, con):
        for j in jobs:
            if j.ok is False:
                continue
            b = j.index
            src = cache.path(f"batch-{b:03d}.parquet")
            split = cache.ref(f"pip_tiles_{b:03d}", lambda: inp.pip_tile_counts(con, src, inp.PIPELINE_BBOX))
            hits = sum(split.values())
            ref = self._ref({k[: -len(",True")]: n for k, n in split.items() if k.endswith(",True")})
            e = j.extra
            ok = j.out == ref and e["lineage_rows"] == e["rows_written"] == hits
            if j.phase == "resume":
                # a replay with every bucket in the lineage adds no bucket
                ok = ok and e["lineage_buckets"] == e["buckets_before"]
            j.ok = ok

    def isolated(self, ctx, cache):
        return {"cells.scan_with_cell_s": _scan_with_cell(ctx, cache.path("batch-000.parquet"))}, []


class KnnJoin(Workload):
    """Skewed points (20% in 3 hotspots) -> knn_join k=1 against the
    1000 sf0.1 supplier points."""

    name = "knn"
    sizes = {"full": {"n": 15_000}, "smoke": {"n": 2_000}}
    # Keys whose point has no target within the first ring's guarantee
    # radius (11.25 deg): the lattice's east edge near lon 179.9, where
    # planar distance does not wrap. Only 17 of its 612000 keys do, so a
    # 15k-key input held one for about a third of the seeds and job_s split
    # in two groups (the second ring stage ran or not). Every input carries
    # these four, so every job runs the ring expansion this workload is
    # meant to measure. They lie below every seed's key range
    # (KEY_STRIDE), so their point_ids never collide.
    FAR_KEYS = (116963, 206593, 449926, 539556)

    @property
    def items_per_job(self) -> int:
        return self.p["n"] + len(self.FAR_KEYS)

    @property
    def input_bytes(self) -> int:
        return self.p["n"] * 60

    def sample_input(self, cache):
        return cache.path("points.parquet")

    def generate(self, cache, con, off):
        inp.write_points(con, cache.path("points.parquet"), off, self.p["n"], self.FAR_KEYS)
        inp.write_targets(con, cache.path("targets.parquet"))

    def _job(self, ctx, cache, phase, i):
        def body(j):
            pts = ctx.spark.read.parquet(cache.path("points.parquet"))
            tgt = ctx.spark.read.parquet(cache.path("targets.parquet"))
            out = ctx.call(phase, i, "knn.call", lambda: knn_op.knn_join(pts, tgt, k=1))
            return ctx.call(
                phase, i, "knn.action",
                lambda: out.select("point_id", "target_id", "dist2").toPandas(),
            )

        return [ctx.job(phase, i, body)]

    def measure(self, ctx, cache, seconds):
        return closed_loop(seconds, lambda ph, i: self._job(ctx, cache, ph, i))

    def check(self, jobs, cache, con):
        import pyarrow.parquet as pq

        ref_path = cache.path("ref-knn.parquet")
        if not os.path.exists(ref_path):
            inp.knn_nearest(con, cache.path("points.parquet"), cache.path("targets.parquet"), ref_path + ".tmp")
            os.replace(ref_path + ".tmp", ref_path)
        ref = pq.read_table(ref_path).to_pandas()
        if self.corrupt_reference:
            ref.loc[0, "target_id"] += 1
        for j in jobs:
            if j.ok is False:
                continue
            got = j.out.sort_values("point_id").reset_index(drop=True)
            j.ok = (
                len(got) == len(ref)
                and (got["point_id"].to_numpy() == ref["point_id"].to_numpy()).all()
                and (got["target_id"].to_numpy() == ref["target_id"].to_numpy()).all()
                and (got["dist2"].to_numpy() == ref["dist2"].to_numpy()).all()
            )
            j.out = None  # the frame is only needed for the check

    def isolated(self, ctx, cache):
        return {"cells.scan_with_cell_s": _scan_with_cell(ctx, cache.path("points.parquet"))}, []


WORKLOADS = {w.name: w for w in (PayloadVerify, PipelineResume, KnnJoin)}
