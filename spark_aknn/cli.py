"""spark-submit entry point.

Mirrors the reference CLI's parameter surface
(/root/reference/PlaneSweepParallel/src/PlaneSweepParallel.cpp:40-133:
k, input file, training file, threads, accuracy, numStripes(0=auto),
saveToFile, algorithm bitstring, memory MB) collapsed onto one engine
with config knobs — the 30-variant bitstring becomes the
--num-stripes and --margin-factor flags, and --workdir selects the
resumable checkpointed run.

Usage (multi-executor cluster):
    spark-submit --py-files spark_aknn.zip -m spark_aknn.cli \
        --input points_a.parquet --training points_b.parquet \
        --k 10 --output out/ --workdir ckpt/   # resumable

    python -m spark_aknn.cli --synthetic 1000000 --k 10 --output /tmp/out
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import Observation
from pyspark.sql import functions as F

from spark_aknn.aknn import all_knn_join
from spark_aknn.manifest import checkpointed_aknn
from spark_aknn.metrics import RunMetrics
from spark_aknn.points import lcg_x, lcg_y, points_from_keys, points_from_phash
from spark_aknn.session import get_spark


def _load_points(spark, path: str, key: str | None):
    from spark_aknn.sources import read_points_any

    df = read_points_any(spark, path)  # .bin / .txt reference formats or parquet
    cols = set(df.columns)
    if {"id", "x", "y"} <= cols:
        return df.select("id", "x", "y")
    if {"phash", "image_id"} <= cols:
        return points_from_phash(df).select("id", "x", "y")
    if key:
        return points_from_keys(df, key)
    raise SystemExit(f"{path}: need (id,x,y), an image table with phash, or --key")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="All-kNN spatial join on Spark")
    p.add_argument("--input", help="parquet path of query points")
    p.add_argument("--training", help="parquet path of training points (default: input, self-join)")
    p.add_argument("--key", help="integer key column to derive (x,y) via LCG when not a point table")
    p.add_argument("--synthetic", type=int, help="generate N deterministic uniform points instead")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--num-stripes", type=int, default=0, help="0 = auto (sqrt(|T|/k), the reference formula)")
    p.add_argument(
        "--margin-factor", type=float, default=0.9,
        help="training overlap margin as a fraction of stripe height, a number >= 0; "
        "0 = pure reference partitioning (full boundary exchange)",
    )
    p.add_argument("--output", required=True, help="parquet output path (or .bin/.txt with --convert)")
    p.add_argument(
        "--convert", action="store_true",
        help="dataset-multiplier mode (DatasetMultiplier/main.cpp): apply "
        "--factor to --input and write --output in the format its extension "
        "names (.bin = packed binary, else text) instead of running a query",
    )
    p.add_argument(
        "--factor", type=int, default=1, choices=[-2, -1, 1, 2, 4],
        help="--convert multiplier factor; 1 = copy/format-convert",
    )
    p.add_argument("--workdir", help="checkpoint dir -> resumable per-batch execution")
    p.add_argument("--metrics", help="write run metrics JSON here")
    p.add_argument("--cpus", type=int, default=None, help="local[N] size (ignored under spark-submit)")
    args = p.parse_args(argv)

    spark = get_spark("spark_aknn_cli", cpus=args.cpus)
    if args.convert:
        from spark_aknn.multiplier import multiply
        from spark_aknn.sources import read_points_any, write_points_any

        if not args.input:
            raise SystemExit("--convert requires --input")
        pts = multiply(read_points_any(spark, args.input), args.factor)
        # reference precision rule (main.cpp:133-136): downsampling -> 10
        n = write_points_any(pts, args.output, precision=10 if args.factor < 0 else 8)
        print(json.dumps({"converted_rows": n, "factor": args.factor}), file=sys.stderr)
        spark.stop()
        return
    metrics = RunMetrics()
    if args.synthetic:
        pts = spark.range(args.synthetic).select(
            (F.col("id") + 1).alias("id"), lcg_x(F.col("id")).alias("x"), lcg_y(F.col("id")).alias("y")
        )
        inp = trn = pts
    else:
        if not args.input:
            raise SystemExit("--input or --synthetic required")
        inp = _load_points(spark, args.input, args.key)
        trn = _load_points(spark, args.training, args.key) if args.training else inp

    # the row count rides on the output write itself: no second job
    written = Observation("output")
    with metrics.timed("total"):
        if args.workdir:
            result = checkpointed_aknn(
                spark, inp, trn, args.workdir, k=args.k,
                num_stripes=args.num_stripes, margin_factor=args.margin_factor,
            )
        else:
            result = all_knn_join(
                inp, trn, k=args.k, num_stripes=args.num_stripes, margin_factor=args.margin_factor
            )
        result.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(args.output)
    metrics.counters["output_rows"] = written.get["rows"]
    payload = metrics.to_json()
    if args.metrics:
        with open(args.metrics, "w") as f:
            f.write(payload)
    print(payload, file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
