"""Per-partition lineage + checkpoint manifests with resume.

Re-expresses the reference's out-of-core bookkeeping on Spark terms:
the external algorithm packs stripes into memory-budget windows and
commits finished queries per window
(/root/reference/PlaneSweepParallel/include/AllKnnResultStripesParallelExternal.h:142-287
GetWindow, :376-485 CommitWindow); its stripe debug sink records
per-stripe boundaries/counts (AllKnnResultStripes.h:158-179). Here a
*batch of stripes* plays the window's role: each batch is one Spark job
whose stage-1 output lands in its own parquet directory plus an
atomically-renamed JSON manifest carrying per-stripe lineage (boundaries,
input/training counts, rows emitted, scanned-candidate stats, wall
time). A restarted run finds the manifests and skips completed batches —
no recomputation of committed stripes, the north-rule resume property.

Spark (not the reference's windows) handles memory: each batch job
spills/shuffles natively; batching exists purely for commit granularity.
So unlike the reference's windows, which run one after another, the
pending batches run concurrently, one driver thread each, and Spark's
task slots bound how much work is in flight. A batch's ``wall_sec``
therefore overlaps the other batches' and no longer sums to the stage-1
wall. A batch that fails does not stop the others from committing; its
error is re-raised once every batch has finished, and a re-run
recomputes only the batches without a manifest. The final phase starts
after every batch has committed.

Only the materialization of stage 1 is this module's own: the point
projection, the cell assignment and everything after stage 1 (escape
flag, single-cell exit, frontier, stage 2, merge) are all_knn_join's,
run on the committed batches in its lazy shape.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from spark_aknn.aknn import _cell_points, _check_margin, _downstream, stage1_local_topk
from spark_aknn.grid import SALT_FACTOR, Grid, plan_grid


def _write_json_atomic(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
    os.replace(tmp, path)


def _grid_path(workdir: str) -> str:
    return os.path.join(workdir, "grid.json")


def save_grid(workdir: str, grid: Grid, params: dict | None = None) -> None:
    _write_json_atomic(
        _grid_path(workdir),
        {
            "y_splits": grid.y_splits,
            "x_splits": {str(k): v for k, v in grid.x_splits.items()},
            "params": params or {},
        },
    )


def load_grid(workdir: str, params: dict | None = None) -> Grid | None:
    """Load a committed grid; when ``params`` is given, validate it
    against the parameters the workdir was committed under and fail
    loudly on ANY mismatch (r3 ADVICE medium): stage-1 batches written
    under one (k, margin_factor, num_batches) are NOT reusable under
    another — resuming them would certify queries against margin bounds
    whose replicated training was never present, silently producing
    wrong neighbor lists. A pre-params workdir (older layout) is treated
    as mismatching for the same reason.
    """
    p = _grid_path(workdir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        raw = json.load(f)
    if params is not None:
        committed = raw.get("params")
        if committed != params:
            raise ValueError(
                f"checkpoint workdir {workdir!r} was committed with params "
                f"{committed!r} but this run requests {params!r}; stage-1 "
                "batches are not reusable across differing k/margin_factor/"
                "num_batches — use a fresh workdir (or delete this one)"
            )
    return Grid(
        y_splits=[float(v) for v in raw["y_splits"]],
        x_splits={int(k): v for k, v in raw["x_splits"].items()},
    )


def checkpointed_aknn(
    spark: SparkSession,
    input_points: DataFrame,
    training_points: DataFrame,
    workdir: str,
    k: int = 10,
    num_stripes: int = 0,
    num_batches: int = 4,
    margin_factor: float = 0.9,
) -> DataFrame:
    """All-kNN join with per-batch checkpoint/resume under ``workdir``.

    Layout: grid.json, stage1/batch=<b>/ (+ manifest_b.json),
    result/ (+ manifest_final.json). Re-running with the same workdir
    skips every batch whose manifest exists.

    It runs all_knn_join's point projection, cell assignment and
    downstream; only stage 1 differs, committed as parquet batches
    instead of cached in memory. The same input contract holds: a null,
    NaN or infinite coordinate fails the call with an error naming the
    point id, and a margin_factor that is not a number >= 0 raises
    ValueError before any Spark job.
    """
    _check_margin(margin_factor)
    os.makedirs(workdir, exist_ok=True)
    # every parameter that changes what a committed stage-1 batch MEANS;
    # validated against the workdir on resume (r3 ADVICE medium); the
    # salting threshold is a constant, kept so older workdirs still match
    params = {
        "k": k,
        "num_stripes_requested": num_stripes,
        "num_batches": num_batches,
        "salt_factor": SALT_FACTOR,
        "margin_factor": margin_factor,
    }
    grid = load_grid(workdir, params=params)
    if grid is None:
        grid, _ = plan_grid(training_points, k, num_stripes, margin_factor)
        save_grid(workdir, grid, params=params)

    # the batches commit unwidened stage-1 cells (no extra shuffle per
    # batch job); the margin-replicated copy is cell-complete per batch:
    # a replica's batch is decided by its TARGET stripe, so every batch
    # job carries its own cells' full margin
    inp, trn, trn_s1 = _cell_points(input_points, training_points, grid, margin_factor)

    def commit_batch(b: int) -> None:
        t0 = time.time()
        sel = F.pmod(F.col("stripe_id"), F.lit(num_batches)) == b
        out = stage1_local_topk(inp.filter(sel), trn_s1.filter(sel), k)
        path = os.path.join(workdir, f"stage1/batch={b}")
        out.write.mode("overwrite").parquet(path)
        stats = (
            spark.read.parquet(path)
            .groupBy("stripe_id", "sub_id")
            .agg(
                F.count(F.lit(1)).alias("n_queries"),
                F.sum("scanned").alias("scanned_total"),
                F.max("scanned").alias("scanned_max"),
                F.sum(F.size("neighbor_ids")).alias("neighbors_emitted"),
            )
            .collect()
        )
        _write_json_atomic(
            os.path.join(workdir, f"manifest_stage1_{b}.json"),
            {
                "batch": b,
                "path": path,
                "wall_sec": time.time() - t0,
                "stripes": [
                    {
                        **r.asDict(),
                        "ylo": grid.y_splits[r["stripe_id"]],
                        "yhi": grid.y_splits[r["stripe_id"] + 1],
                    }
                    for r in stats
                ],
            },
        )

    # a batch whose manifest exists was committed by a previous run —
    # resume skips it; the rest are submitted at once and Spark's task
    # slots interleave their jobs. Each target is wrapped at submit time,
    # so every thread runs under its own copy of the caller's local
    # properties (job group, job description).
    pending = [
        b
        for b in range(num_batches)
        if not os.path.exists(os.path.join(workdir, f"manifest_stage1_{b}.json"))
    ]
    if pending:
        with ThreadPoolExecutor(max_workers=len(pending)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(spark)(commit_batch), b) for b in pending
            ]
        # leaving the pool waited for every batch, so a failure re-raised
        # here has not stopped the others from committing
        for f in futures:
            f.result()

    stage1 = spark.read.parquet(os.path.join(workdir, "stage1"))
    final_manifest = os.path.join(workdir, "manifest_final.json")
    result_path = os.path.join(workdir, "result")
    if not os.path.exists(final_manifest):
        t0 = time.time()
        result = _downstream(stage1, trn, grid, k, margin_factor)
        # the row count rides on the write itself: no second job
        written = Observation("result")
        result.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(result_path)
        _write_json_atomic(
            final_manifest,
            {
                "path": result_path,
                "rows": written.get["rows"],
                "wall_sec": time.time() - t0,
                "k": k,
            },
        )
    return spark.read.parquet(result_path)
