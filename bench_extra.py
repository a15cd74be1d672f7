"""Extra benchmarks + profiling harness for the optimization rounds.

NOT part of the frozen driver contract (bench.py is the measured
artifact). This harness isolates single queries with the noop sink
(guide §1.4), labels jobs (§1.5), and pulls per-stage wall/task metrics
from the Spark REST API so optimization work can attribute time to
stages instead of guessing.

Usage:
  python bench_extra.py <target> [--reps N] [--explain OUT.txt] [--stages]

Targets: images_synth, aknn_images, aknn_keys, aknn_lineitem,
         tile_images, minhash, ann, all
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import sys
import time
import urllib.request
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from spark_aknn.session import default_cpus, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = 10
TILE_T = 64


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def rest_stages(spark):
    """Completed stages from the live UI REST API (newest first)."""
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return []
    app_id = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def stage_report(stages, since_stage_id: int) -> str:
    rows = [s for s in stages if s["stageId"] >= since_stage_id]
    rows.sort(key=lambda s: -s.get("executorRunTime", 0))
    out = ["  stageId  tasks  wall_ms  taskTime_ms  shuffleR_MB  shuffleW_MB  name"]
    for s in rows[:14]:
        sub = s.get("firstTaskLaunchedTime") or s.get("submissionTime")
        dur = "?"
        try:
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            d0 = datetime.strptime(s["submissionTime"].replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
            d1 = datetime.strptime(s["completionTime"].replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
            dur = str(int((d1 - d0).total_seconds() * 1000))
        except Exception:
            pass
        out.append(
            f"  {s['stageId']:>7}  {s['numCompleteTasks']:>5}  {dur:>7}  "
            f"{s.get('executorRunTime', 0):>11}  "
            f"{s.get('shuffleReadBytes', 0) / 1e6:>11.2f}  "
            f"{s.get('shuffleWriteBytes', 0) / 1e6:>11.2f}  {s['name'][:60]}"
        )
    return "\n".join(out)


def build_targets(spark, cpus):
    from spark_aknn.aknn import all_knn_join
    from spark_aknn.cells import cell_id
    from spark_aknn.points import lcg_x, lcg_y, points_from_keys, points_from_phash
    from spark_aknn.raster import tile_histogram
    from spark_aknn.tables import images_table

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li_rows = li.count()
    n_images = max(1000, li_rows // 6)

    state = {}

    def images_synth():
        imgs = images_table(spark, n_images, num_partitions=cpus * 2)
        noop(imgs)

    def _ipts():
        if "ipts" not in state:
            imgs = images_table(spark, n_images, num_partitions=cpus * 2).persist()
            imgs.count()
            state["imgs"] = imgs
            state["ipts"] = points_from_phash(imgs).select("id", "x", "y").persist()
            state["ipts"].count()
        return state["ipts"]

    def _kpts():
        if "kpts" not in state:
            state["kpts"] = (
                spark.range(n_images)
                .select(
                    (F.col("id") + 1).alias("id"),
                    lcg_x(F.col("id")).alias("x"),
                    lcg_y(F.col("id")).alias("y"),
                )
                .persist()
            )
            state["kpts"].count()
        return state["kpts"]

    def _lpts():
        if "lpts" not in state:
            state["lpts"] = points_from_keys(
                li.select((F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("lkey")),
                "lkey",
            ).persist()
            state["lpts"].count()
        return state["lpts"]

    def aknn_images():
        p = _ipts()
        noop(all_knn_join(p, p, k=K))

    def aknn_keys():
        p = _kpts()
        noop(all_knn_join(p, p, k=K))

    def aknn_lineitem():
        p = _lpts()
        noop(all_knn_join(p, p, k=K))

    def tile_images():
        noop(tile_histogram(_ipts(), TILE_T))

    def minhash():
        from spark_aknn.pipeline.dedup import minhash_dedup_pairs

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        noop(minhash_dedup_pairs(docs, threshold=0.5))

    def ann():
        from spark_aknn.pipeline.ann import all_pairs_l2_topk

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        n_emb = emb.count()
        noop(all_pairs_l2_topk(emb, k=10, corpus_count=n_emb))

    def cells_q():
        noop(_lpts().select(cell_id(F.col("x"), F.col("y"), 12).alias("c")).agg(F.countDistinct("c")))

    return {
        "images_synth": images_synth,
        "aknn_images": aknn_images,
        "aknn_keys": aknn_keys,
        "aknn_lineitem": aknn_lineitem,
        "tile_images": tile_images,
        "minhash": minhash,
        "ann": ann,
        "cells": cells_q,
    }


def explain_target(spark, cpus, name, out_path):
    """Write .explain('formatted') for the target's DataFrame."""
    from spark_aknn.aknn import all_knn_join
    from spark_aknn.points import lcg_x, lcg_y, points_from_keys, points_from_phash
    from spark_aknn.raster import tile_histogram
    from spark_aknn.tables import images_table
    from spark_aknn.pipeline.ann import all_pairs_l2_topk
    from spark_aknn.pipeline.dedup import minhash_dedup_pairs

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n_images = max(1000, li.count() // 6)

    if name == "aknn_images":
        imgs = images_table(spark, n_images, num_partitions=cpus * 2).persist()
        imgs.count()
        p = points_from_phash(imgs).select("id", "x", "y").persist()
        p.count()
        df = all_knn_join(p, p, k=K)
    elif name == "aknn_keys":
        p = spark.range(n_images).select(
            (F.col("id") + 1).alias("id"), lcg_x(F.col("id")).alias("x"), lcg_y(F.col("id")).alias("y")
        ).persist()
        p.count()
        df = all_knn_join(p, p, k=K)
    elif name == "aknn_lineitem":
        p = points_from_keys(
            li.select((F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("lkey")), "lkey"
        ).persist()
        p.count()
        df = all_knn_join(p, p, k=K)
    elif name == "images_synth":
        df = images_table(spark, n_images, num_partitions=cpus * 2)
    elif name == "tile_images":
        imgs = images_table(spark, n_images, num_partitions=cpus * 2).persist()
        imgs.count()
        df = tile_histogram(points_from_phash(imgs).select("id", "x", "y"), TILE_T)
    elif name == "minhash":
        df = minhash_dedup_pairs(spark.read.parquet(f"{SF_DIR}/documents.parquet"), threshold=0.5)
    elif name == "ann":
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        df = all_pairs_l2_topk(emb, k=10, corpus_count=emb.count())
    else:
        raise SystemExit(f"no explain builder for {name}")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(out_path, "w") as f:
        f.write(buf.getvalue())
    print(f"wrote {out_path}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("target")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None)
    ap.add_argument("--stages", action="store_true")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    cpus = default_cpus()
    extra = {"spark.ui.enabled": "true"} if args.stages else {}
    spark = get_spark("bench_extra", cpus=cpus, extra_conf=extra)

    if args.explain:
        explain_target(spark, cpus, args.target, args.explain)
        return

    targets = build_targets(spark, cpus)
    names = list(targets) if args.target == "all" else [args.target]

    # warm codegen + worker pool once so reps measure the engine
    if not args.no_warm:
        from spark_aknn.aknn import all_knn_join
        from spark_aknn.points import lcg_x, lcg_y

        w = spark.range(2000).select(
            (F.col("id") + 1).alias("id"), lcg_x(F.col("id")).alias("x"), lcg_y(F.col("id")).alias("y")
        )
        all_knn_join(w, w, k=5, num_stripes=max(2, cpus)).count()

    results = {}
    for name in names:
        fn = targets[name]
        ts = []
        for rep in range(args.reps):
            mark = spark.sparkContext.startTime  # noqa: F841
            last_stage = max((s["stageId"] for s in rest_stages(spark)), default=-1) if args.stages else -1
            spark.sparkContext.setJobDescription(f"{name}#{rep}")
            t0 = time.time()
            fn()
            dt = time.time() - t0
            ts.append(round(dt, 3))
            if args.stages:
                time.sleep(0.5)
                print(f"--- {name}#{rep} {dt:.3f}s stages:")
                print(stage_report(rest_stages(spark), last_stage + 1))
        spark.sparkContext.setJobDescription(None)
        results[name] = {"samples": ts, "median": statistics.median(ts), "min": min(ts)}
        print(name, results[name], flush=True)
    print(json.dumps({"sf_dir": SF_DIR, "cpus": cpus, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
