"""The traced run: per-layer metrics from spans around calls into each
layer, with Spark REST stage metrics attributed to the span that was open
when each stage ran.

Order: calibration burns; setup (session.*, its warm-up passes untimed);
an untraced then a traced headline pass (their difference is the tracing
overhead; the traced one gives spark.*); the all-kNN join decomposed into its public
stage functions along the downstream shape all_knn_join picks for the
corpus size, each materialized (grid.*, aknn.*), and window_topk called in
this process over the stage-1 cell arrays (sweep.*); a checkpointed join
that loses one batch and resumes (manifest.*); one image-pipeline pass
(media.*, points.*, the geo tier, dedup.*); the bucketed exact ANN
(ann.*); calibration burns again. A layer the workload's own pass does
not call runs on a small seeded side input: uniform points for the kNN
layers unless the workload is knn-uniform, images for the pipeline
layers, and vectors for the ANN layers unless it is ann-embeddings.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks
from perfbench.probe import PeakRss, SparkRest, calibrate, stage_totals
from perfbench.trace import NullTracer, Tracer
from perfbench.workloads import JACCARD, K, AnnEmbeddings, ImagePipeline, KnnUniform, sample_positions
from spark_aknn import aknn
from spark_aknn.grid import (
    assign_cells,
    assign_cells_margin,
    build_grid,
    cells_df,
    count_and_extent,
    quantile_sketch,
    sketch_resolution,
)
from spark_aknn.manifest import checkpointed_aknn
from spark_aknn.pipeline import ann, dedup
from spark_aknn.stripes import auto_num_stripes
from spark_aknn.sweep import window_topk

_JOIN_DEFAULTS = inspect.signature(aknn.all_knn_join).parameters
MARGIN = _JOIN_DEFAULTS["margin_factor"].default
EAGER_MAX_ROWS = _JOIN_DEFAULTS["eager_stats_max_rows"].default
CKPT_POINTS = 50_000  # checkpointed join size cap
CKPT_BATCHES = 4
SIDE_POINTS = 200_000  # side inputs, for the layers a workload's pass does not call
SIDE_IMAGES = 1_000
SIDE_VECTORS = 3_000
NUM_PERM = 32  # minhash_dedup_pairs' default signature length
CELL_COLS = ["stripe_id", "sub_id", "id", "x", "y"]

UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "grid.plan_s": "s", "grid.stripes_requested": "count", "grid.stripes_actual": "count",
    "grid.fused": "count", "grid.salted_stripes": "count", "grid.cells": "count",
    "grid.replication": "ratio",
    "aknn.stage1_s": "s", "aknn.stage1_task_s": "s", "aknn.stage1_shuffle_write_mb": "MB",
    "aknn.stage1_task_skew": "ratio", "aknn.escape_frac": "ratio", "aknn.frontier_rows": "count",
    "aknn.stage2_s": "s", "aknn.merge_s": "s", "aknn.stage2_yield": "ratio",
    "aknn.jobs": "count", "aknn.stages": "count", "aknn.boundary_ratio": "ratio",
    "aknn.stage1_share": "ratio",
    "sweep.kernel_core_s": "s", "sweep.scanned_per_neighbor": "ratio",
    "manifest.full_s": "s", "manifest.resume_s": "s", "manifest.batch_wall_s": "s",
    "manifest.final_wall_s": "s", "manifest.files_written": "count",
    "manifest.bytes_per_point": "B", "manifest.batches_recomputed": "count",
    "media.decode_s": "s", "media.decode_ok_frac": "ratio", "points.phash_s": "s",
    "raster.tile_hist_s": "s", "cells.rollup_s": "s", "spatial_join.radius_s": "s",
    "spatial_join.radius_pairs": "count", "pip.tag_s": "s",
    "dedup.minhash_s": "s", "dedup.pairs": "count", "dedup.candidates": "count",
    "dedup.verify_yield": "ratio",
    "ann.centroids_s": "s", "ann.vectors_per_s": "1/s", "ann.jobs": "count", "ann.task_s": "s",
    "ann.shuffle_write_mb": "MB",
    "spark.task_s": "s", "spark.idle_core_frac": "ratio", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s", "spark.failed_tasks": "count",
    "trace.overhead_s": "s", "mem.peak_rss_gb": "GB",
    "host.alu_mops_pre": "Mop/s", "host.alu_mops_post": "Mop/s",
    "host.mem_bw_gbs_pre": "GB/s", "host.mem_bw_gbs_post": "GB/s",
}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


class StageIndex:
    """REST jobs and stages, each stage attributed to the job group (span)
    of the first job that ran it."""

    def __init__(self, rest: SparkRest, tr: Tracer):
        self.rest = rest
        self.tr = tr
        self.jobs = rest.jobs()
        self.stages = rest.stages()
        owner: dict[int, str | None] = {}
        for job in sorted(self.jobs, key=lambda j: j["jobId"]):
            for sid in job.get("stageIds", []):
                owner.setdefault(sid, job.get("jobGroup"))
        self.owner = owner

    def _groups(self, span: dict) -> set[str]:
        """Job groups of ``span`` and every span nested in it."""
        return {self.tr.group_of(self.tr.spans[i]) for i in self.tr.subtree(span["id"])}

    def stages_of(self, span: dict) -> list[dict]:
        groups = self._groups(span)
        return [s for s in self.stages if self.owner.get(s["stageId"]) in groups]

    def jobs_of(self, span: dict) -> list[dict]:
        groups = self._groups(span)
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def totals(self, span: dict) -> dict[str, float]:
        return stage_totals(self.stages_of(span))


def _find(tr: Tracer, name: str, within: dict | None = None) -> dict:
    ids = tr.subtree(within["id"]) if within else range(len(tr.spans))
    return next(tr.spans[i] for i in sorted(ids) if tr.spans[i]["name"] == name)


def _wait_listener(sc, rest: SparkRest, timeout_s: float = 30.0) -> None:
    """The REST store is fed asynchronously; wait until it shows every job
    finished."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not sc.statusTracker().getActiveJobsIds() and not any(
            j.get("status") == "RUNNING" for j in rest.jobs()
        ):
            return
        time.sleep(0.25)


# ----------------------------------------------------------------- aknn


def _cell_key(tbl) -> np.ndarray:
    return (tbl.column("stripe_id").to_numpy().astype(np.int64) << 32) + tbl.column(
        "sub_id"
    ).to_numpy().astype(np.int64)


def sweep_core(inp_tbl, trn_tbl, k: int) -> tuple[float, int, int]:
    """window_topk over every stage-1 cell in this process, one core.
    Returns (kernel seconds, scanned candidates, queries)."""
    qk, tk = _cell_key(inp_tbl), _cell_key(trn_tbl)
    qo, to = np.argsort(qk, kind="stable"), np.argsort(tk, kind="stable")
    qk, tk = qk[qo], tk[to]
    q = {c: inp_tbl.column(c).to_numpy()[qo] for c in ("x", "y")}
    trn = trn_tbl.select(["id", "x", "y"]).take(to)
    keys, qstart = np.unique(qk, return_index=True)
    qend = np.append(qstart[1:], len(qk))
    tstart = np.searchsorted(tk, keys, "left")
    tend = np.searchsorted(tk, keys, "right")
    core = 0.0
    scanned = 0
    for a, b, c, d in zip(qstart, qend, tstart, tend):
        if c == d:
            continue
        # the stage-1 kernel's own input preparation (x-sort, duplicate
        # pre-cap), outside the timed window, so the kernel sees exactly
        # the arrays it sees inside stage 1
        tx, ty, tid = aknn._sorted_training(trn.slice(c, d - c), k)
        t0 = time.perf_counter()
        _, _, _, sc = window_topk(q["x"][a:b], q["y"][a:b], tx, ty, tid, k)
        core += time.perf_counter() - t0
        scanned += int(sc.sum())
    return core, scanned, len(qk)


def knn_layers(spark, tr: Tracer, pts) -> dict:
    """The all-kNN join decomposed into its public stage functions along
    the downstream shape all_knn_join itself picks for this corpus size
    (eager stats at most ``eager_stats_max_rows`` points, lazy above),
    each stage persisted and materialized in its own span."""
    sc = spark.sparkContext
    par = sc.defaultParallelism
    m: dict[str, float] = {}
    with tr.span("grid.plan"):
        n, x_extent = count_and_extent(pts)
        requested = auto_num_stripes(n, K, par)
        sketch = quantile_sketch(pts, "y", sketch_resolution(requested))
        grid = build_grid(
            pts, requested, sketch=sketch, k=K, x_extent=x_extent, margin_factor=MARGIN, n_total=n
        )
    n_cells = sum(grid.num_subs(s) for s in range(grid.num_stripes))
    m.update(
        {
            "grid.stripes_requested": requested,
            "grid.stripes_actual": grid.num_stripes,
            "grid.fused": requested - grid.num_stripes,
            "grid.salted_stripes": len(grid.x_splits),
            "grid.cells": n_cells,
        }
    )
    eager = n <= EAGER_MAX_ROWS
    cells = cells_df(spark, grid, margin_factor=MARGIN)
    raw = pts.select("id", "x", "y")
    wide = raw.repartition(par) if raw.rdd.getNumPartitions() < par else raw
    inp = assign_cells(wide, grid).select(*CELL_COLS)
    trn_home = assign_cells(raw, grid).select(*CELL_COLS)
    trn_s1 = assign_cells_margin(wide, grid, MARGIN).select(*CELL_COLS)
    with tr.span("sweep.collect_cells"):
        inp_tbl = inp.toArrow()
        trn_tbl = trn_s1.toArrow()
    m["grid.replication"] = trn_tbl.num_rows / n

    cached = []

    def keep(df):
        cached.append(df.persist())
        return cached[-1]

    stage1 = keep(aknn.stage1_local_topk(inp, trn_s1, K))
    with tr.span("aknn.stage1"):
        stage1.agg(F.count(F.lit(1)), F.sum("scanned")).collect()
    flagged = aknn.with_escape_flag(stage1, cells)
    esc = None
    if eager:
        esc = keep(flagged.filter(F.col("escapes")))
        with tr.span("aknn.escape"):
            n_esc = esc.count()
        frontier = aknn.build_frontier(esc, cells, grid)
        with tr.span("aknn.frontier"):
            stats = frontier.groupBy("stripe_id", "sub_id").count().collect()
        m["aknn.frontier_rows"] = sum(r["count"] for r in stats)
        # stage-2 sizing and training prune as all_knn_join computes them
        np2 = max(1, min(2 * par, len(stats)))
        est_trn = n * len(stats) / max(1, n_cells)
        np2 = max(1, min(np2, -(-int(m["aknn.frontier_rows"] + est_trn) // 16384)))
        if len(stats) <= 65536:
            ckey = F.col("stripe_id").cast("long") * F.lit(1 << 32) + F.col("sub_id")
            keys = [r["stripe_id"] * (1 << 32) + r["sub_id"] for r in stats]
            trn_s2 = trn_home.filter(ckey.isin(keys))
        else:
            touched = frontier.select("stripe_id", "sub_id").distinct()
            trn_s2 = trn_home.join(F.broadcast(touched), ["stripe_id", "sub_id"], "left_semi")
        frontier = frontier.repartition(np2, "stripe_id", "sub_id")
        trn_s2 = trn_s2.repartition(np2, "stripe_id", "sub_id")
    else:
        with tr.span("aknn.escape"):
            n_esc = flagged.filter(F.col("escapes")).count()
        frontier = keep(aknn.build_frontier(flagged, cells, grid))
        with tr.span("aknn.frontier"):
            m["aknn.frontier_rows"] = frontier.count()
        touched = frontier.select("stripe_id", "sub_id").distinct()
        trn_s2 = trn_home.join(F.broadcast(touched), ["stripe_id", "sub_id"], "left_semi")
    if eager and not m["aknn.frontier_rows"]:
        # all_knn_join skips stage 2 when no kth circle leaves its cell
        stage2 = aknn._empty_stage2(spark)
        with tr.span("aknn.stage2"):
            cand2 = 0
        merged = keep(aknn.merge_topk(flagged, stage2, K, escaping=esc))
    else:
        stage2 = keep(aknn.stage2_exchange(frontier, trn_s2, K))
        with tr.span("aknn.stage2"):
            cand2 = stage2.agg(F.count(F.lit(1)), F.sum("dist_sq")).collect()[0][0]
        merged = keep(aknn.merge_topk(flagged, stage2, K, dedup=MARGIN > 0, escaping=esc))
    with tr.span("aknn.merge"):
        merged.agg(F.count(F.lit(1)), F.sum("dist_sq")).collect()
    with tr.span("aknn.stage2_survivors"):
        # (input_id, neighbor_id) is unique in both, so the merged rows that
        # match a stage-2 candidate count the candidates that survive
        keys = ["input_id", "neighbor_id", "dist_sq"]
        survive = merged.join(F.broadcast(stage2.select(*keys)), keys, "left_semi").count()
    for df in cached:
        df.unpersist()
    m["aknn.escape_frac"] = n_esc / n
    m["aknn.stage2_yield"] = survive / cand2 if cand2 else 0.0
    with tr.span("sweep.core"):
        core, scanned, queries = sweep_core(inp_tbl, trn_tbl, K)
    m["sweep.kernel_core_s"] = core
    m["sweep.scanned_per_neighbor"] = scanned / (queries * K)
    return m


def knn_rest_metrics(idx: StageIndex, tr: Tracer, m: dict) -> None:
    for name in ("grid.plan", "aknn.stage1", "aknn.stage2", "aknn.merge"):
        m[name + "_s"] = _dur(_find(tr, name))
    s1 = idx.stages_of(_find(tr, "aknn.stage1"))
    ran = [s for s in s1 if s.get("status") == "COMPLETE"]
    cogroup = max(ran, key=lambda s: s.get("shuffleReadBytes", 0))
    q = idx.rest.task_median_max(cogroup)["executorRunTime"]
    m["aknn.stage1_task_s"] = cogroup["executorRunTime"] / 1e3
    m["aknn.stage1_shuffle_write_mb"] = sum(s.get("shuffleWriteBytes", 0) for s in ran) / 1e6
    m["aknn.stage1_task_skew"] = q[1] / max(q[0], 1.0)  # REST times are whole ms
    m["aknn.boundary_ratio"] = m["aknn.stage1_task_s"] / m["sweep.kernel_core_s"]


# ------------------------------------------------------------- manifest


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _tree_files(path: str) -> list[str]:
    return [p for p in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(p)]


def manifest_layers(spark, tr: Tracer, pts_df, pts, workdir: str, seed: int) -> tuple[dict, list[str]]:
    """Checkpointed join into a fresh workdir; then one committed batch
    and the final manifest are deleted and the join resumes."""
    pid, px, py = pts
    keep = pid <= CKPT_POINTS
    sub = (pid[keep], px[keep], py[keep])
    df = pts_df.filter(F.col("id") <= CKPT_POINTS)
    n = int(keep.sum())
    m: dict[str, float] = {}
    with tr.span("manifest.full"):
        checkpointed_aknn(spark, df, df, workdir, k=K, num_batches=CKPT_BATCHES)
    files = _tree_files(workdir)
    m["manifest.files_written"] = len(files)
    m["manifest.bytes_per_point"] = sum(os.path.getsize(f) for f in files) / n
    batch = [_read_json(p) for p in glob.glob(os.path.join(workdir, "manifest_stage1_*.json"))]
    m["manifest.batch_wall_s"] = statistics.median(b["wall_sec"] for b in batch)
    m["manifest.final_wall_s"] = _read_json(os.path.join(workdir, "manifest_final.json"))["wall_sec"]
    full = os.path.join(workdir, "result_full")
    os.rename(os.path.join(workdir, "result"), full)
    lost = seed % CKPT_BATCHES
    shutil.rmtree(os.path.join(workdir, "stage1", f"batch={lost}"))
    os.remove(os.path.join(workdir, f"manifest_stage1_{lost}.json"))
    os.remove(os.path.join(workdir, "manifest_final.json"))
    before = {p: os.stat(p).st_mtime_ns for p in glob.glob(os.path.join(workdir, "manifest_stage1_*.json"))}
    with tr.span("manifest.resume"):
        checkpointed_aknn(spark, df, df, workdir, k=K, num_batches=CKPT_BATCHES)
    after = {p: os.stat(p).st_mtime_ns for p in glob.glob(os.path.join(workdir, "manifest_stage1_*.json"))}
    m["manifest.batches_recomputed"] = sum(1 for p, t in after.items() if before.get(p) != t)
    m["manifest.full_s"] = _dur(_find(tr, "manifest.full"))
    m["manifest.resume_s"] = _dur(_find(tr, "manifest.resume"))

    errs: list[str] = []
    if m["manifest.batches_recomputed"] != 1:
        errs.append(f"manifest: {m['manifest.batches_recomputed']} batches recomputed on resume, expected 1")
    a = pq.read_table(full).sort_by([("input_id", "ascending"), ("rank", "ascending")])
    b = pq.read_table(os.path.join(workdir, "result")).sort_by(
        [("input_id", "ascending"), ("rank", "ascending")]
    )
    if not a.equals(b):
        errs.append("manifest: resumed result differs from the full run")
    errs += checks.knn_result(a, sub, sub, K, sample_positions(seed, n))
    return m, errs


# -------------------------------------------------------------- pipeline


def pipeline_metrics(spark, tr: Tracer, pl: ImagePipeline, pass_span: dict) -> dict:
    m: dict[str, float] = {}
    for name in (
        "media.decode", "points.phash", "raster.tile_hist", "cells.rollup",
        "spatial_join.radius", "pip.tag", "dedup.minhash",
    ):
        m[name + "_s"] = _dur(_find(tr, name, pass_span))
    m["media.decode_ok_frac"] = float(
        np.mean(pq.read_table(pl.path("decode"), columns=["decode_ok"]).column(0).to_numpy())
    )
    m["spatial_join.radius_pairs"] = int(
        pq.read_table(pl.path("radius"), columns=["n_within"]).column(0).to_numpy().sum()
    )
    m["dedup.pairs"] = pq.read_table(pl.path("minhash"), columns=["a"]).num_rows
    docs = pl.docs(spark.read.parquet(pl.path("images")))
    bands, rows = dedup.derive_banding(NUM_PERM, JACCARD)
    with tr.span("dedup.lsh_candidates"):
        sigs = dedup.minhash_signatures(docs, "text", 3, NUM_PERM, id_col="doc_id")
        m["dedup.candidates"] = dedup.lsh_candidate_pairs(sigs, "doc_id", bands, rows).count()
    m["dedup.verify_yield"] = m["dedup.pairs"] / m["dedup.candidates"]
    return m


# ------------------------------------------------------------ traced run


def traced_run(wl, args, work: str, root: str) -> dict:
    from perfbench.run import CPUS, log, setup, stop_session

    run_id = f"{wl.name}-{args.seed}-{os.getpid()}"
    m: dict[str, float] = {}
    pre = calibrate(root, CPUS)
    errs: list[str] = []
    attempted = failed = 0

    def record(e: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        failed += bool(e)
        errs.extend(e)

    with PeakRss() as rss:
        spark, phases, warm_errs = setup(wl, work)
        for e in warm_errs:
            record(e)
        m["session.start_s"] = phases["start_s"]
        m["session.warmup_s"] = phases["warmup_s"]
        sc = spark.sparkContext
        rest = SparkRest(sc)
        tr = Tracer(sc, run_id)
        try:
            # untraced then traced, both after the set-up's warm-up passes
            t0 = time.perf_counter()
            wl.run_pass(spark, NullTracer())
            untraced = time.perf_counter() - t0
            record(wl.check())
            with tr.span("pass") as pass_span:
                wl.run_pass(spark, tr)
            record(wl.check())
            m["trace.overhead_s"] = _dur(pass_span) - untraced
            log(f"headline passes untraced {untraced:.2f} s, traced {_dur(pass_span):.2f} s")

            def side(cls, size):
                """(workload, span of its traced pass): the run's own
                workload if it is a ``cls``, else one traced pass over a
                seeded side instance of ``cls``."""
                if isinstance(wl, cls):
                    return wl, pass_span
                w = cls(args.seed, os.path.join(work, "side-" + cls.name), size)
                w.generate()
                w.open(spark)
                with tr.span("side." + cls.name) as sp:
                    w.run_pass(spark, tr)
                record(w.check())
                return w, sp

            knn, knn_span = side(KnnUniform, SIDE_POINTS)
            m.update(knn_layers(spark, tr, knn.points_df(spark)))
            log("knn layers done")
            mm, e = manifest_layers(
                spark, tr, knn.points_df(spark), knn.points(), os.path.join(work, "ckpt"), args.seed
            )
            m.update(mm)
            record(e)
            log("manifest layers done")
            pl, pl_span = side(ImagePipeline, SIDE_IMAGES)
            m.update(pipeline_metrics(spark, tr, pl, pl_span))
            vec, vec_span = side(AnnEmbeddings, SIDE_VECTORS)
            with tr.span("ann.centroids") as sp:
                ann.train_centroids(vec.corpus(spark), ann.auto_num_centroids(vec.size))
            m["ann.centroids_s"] = _dur(sp)
            ann_span = _find(tr, "ann.all_pairs", vec_span)
            m["ann.vectors_per_s"] = vec.size / _dur(ann_span)
            log("pipeline and ann layers done")

            _wait_listener(sc, rest)
            idx = StageIndex(rest, tr)
            knn_rest_metrics(idx, tr, m)
            join = _find(tr, "aknn.all_knn_join", knn_span)
            m["aknn.jobs"] = len(idx.jobs_of(join))
            m["aknn.stages"] = sum(1 for s in idx.stages_of(join) if s.get("status") == "COMPLETE")
            # share of the join's core-seconds that the decomposed stage-1
            # cogroup (the sweep kernel and its Arrow boundary) accounts for
            m["aknn.stage1_share"] = m["aknn.stage1_task_s"] / (_dur(join) * CPUS)
            at = idx.totals(ann_span)
            m["ann.jobs"] = len(idx.jobs_of(ann_span))
            m["ann.task_s"] = at["task_s"]
            m["ann.shuffle_write_mb"] = at["shuffle_write_mb"]
            pt = idx.totals(pass_span)
            m["spark.task_s"] = pt["task_s"]
            m["spark.idle_core_frac"] = 1.0 - pt["task_s"] / (_dur(pass_span) * CPUS)
            for key in ("shuffle_write_mb", "spill_mb", "gc_s", "failed_tasks"):
                m["spark." + key] = pt[key]
            attribution = {
                str(s["stageId"]): idx.owner.get(s["stageId"]) for s in idx.stages
            }
        finally:
            stop_session(spark)
    m["mem.peak_rss_gb"] = rss.peak / 1e9
    post = calibrate(root, CPUS)
    m["host.alu_mops_pre"], m["host.mem_bw_gbs_pre"] = pre["alu_mops"], pre["mem_bw_gbs"]
    m["host.alu_mops_post"], m["host.mem_bw_gbs_post"] = post["alu_mops"], post["mem_bw_gbs"]
    for e in errs:
        log(f"check failed: {e}")

    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.json"), "w") as f:
        json.dump(
            {
                "run_id": run_id,
                "workload": wl.name,
                "seed": args.seed,
                "spans": tr.spans,
                "stage_job_group": attribution,
                "metrics": m,
                "errors": errs,
            },
            f,
            indent=1,
        )
    missing = set(UNITS) - set(m)
    if missing:
        raise RuntimeError(f"traced run did not produce {sorted(missing)}")
    return {
        "correct": not errs,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m[k], "unit": UNITS[k]} for k in UNITS},
    }
