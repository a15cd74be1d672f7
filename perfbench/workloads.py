"""The benchmark's workloads: seeded inputs, one timed pass, its check.

A workload generates its inputs under a work directory, runs one *pass*
(the user-visible unit of work, driven only through the engine's public
functions) and checks the pass's outputs against numpy references. The
session's first two passes run untimed as part of set-up, and the traced run
runs the same pass under a ``Tracer``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks, gen
from spark_aknn import aknn
from spark_aknn.cells import cell_id
from spark_aknn.manifest import checkpointed_aknn
from spark_aknn.media import decode_invariants
from spark_aknn.pip import tag_points_in_polygons
from spark_aknn.pipeline import ann, dedup
from spark_aknn.points import points_from_phash
from spark_aknn.raster import tile_histogram
from spark_aknn.spatial_join import radius_join_count

K = 10
TILES = 64
CELL_LEVEL = 12
RADIUS = 0.003
JACCARD = 0.8
SAMPLE = 64  # queries / pairs re-checked against brute force per pass


def sample_positions(seed: int, n: int, size: int = SAMPLE) -> np.ndarray:
    return np.random.default_rng([seed, 99]).choice(n, min(size, n), replace=False)


class Workload:
    """``generate()`` writes the seeded inputs, ``open(spark)`` prepares
    session-side handles, ``run_pass(spark, tracer)`` is the timed unit of
    work and ``check()`` returns the failures found in its outputs.
    ``redraw(i)`` replaces the inputs with the seed's i-th draw, so the
    timed passes of one run cover several inputs, not one."""

    name = ""
    size = 0

    def __init__(self, seed: int, work: str, size: int | None = None):
        self.seed = seed
        self.key: int | tuple[int, int] = seed  # generator seed of the current draw
        self.work = work
        self.size = size or self.size
        os.makedirs(work, exist_ok=True)

    def redraw(self, draw: int) -> None:
        self.key = self.seed if draw == 0 else (self.seed, draw)
        self.generate()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def points(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(id, x, y) of the points the pass joins."""
        raise NotImplementedError

    def points_df(self, spark):
        raise NotImplementedError


class KnnUniform(Workload):
    """Self all-kNN join (k=10) of seeded uniform points read from
    parquet; the result is written back as parquet. At 200k points
    all_knn_join plans its eager downstream shape (at most
    ``eager_stats_max_rows`` points)."""

    name = "knn-uniform"
    size = 200_000

    def generate(self) -> None:
        self.table = gen.uniform_points(self.key, self.size)
        gen.write_parquet(self.table, self.path("points"))

    def points(self):
        t = self.table
        return tuple(t.column(c).to_numpy() for c in ("id", "x", "y"))

    def points_df(self, spark):
        return spark.read.parquet(self.path("points"))

    def open(self, spark) -> None:
        pass

    def run_pass(self, spark, tr) -> None:
        pts = self.points_df(spark)
        with tr.span("aknn.all_knn_join"):
            aknn.all_knn_join(pts, pts, k=K).write.mode("overwrite").parquet(self.path("knn"))
        aknn.release_cached()

    def check(self) -> list[str]:
        pts = self.points()
        res = pq.read_table(self.path("knn"))
        return checks.knn_result(res, pts, pts, K, sample_positions(self.seed, self.size))


class KnnCheckpoint(Workload):
    """``checkpointed_aknn`` (k=10, 4 batches) of seeded uniform points
    read from parquet, each pass into a fresh work directory: every batch
    commits its stage-1 parquet and manifest, then the final result and
    its manifest are written."""

    name = "knn-checkpoint"
    size = 70_000
    batches = 4

    generate = KnnUniform.generate
    points = KnnUniform.points
    points_df = KnnUniform.points_df
    open = KnnUniform.open

    def run_pass(self, spark, tr) -> None:
        self.ckpt = self.path("ckpt")
        # check() deletes the directory; a pass must never resume from an
        # earlier pass's commits
        shutil.rmtree(self.ckpt, ignore_errors=True)
        pts = self.points_df(spark)
        with tr.span("manifest.checkpointed_aknn"):
            checkpointed_aknn(spark, pts, pts, self.ckpt, k=K, num_batches=self.batches)

    def check(self) -> list[str]:
        pts = self.points()
        res = pq.read_table(os.path.join(self.ckpt, "result"))
        shutil.rmtree(self.ckpt)
        return checks.knn_result(res, pts, pts, K, sample_positions(self.seed, self.size))


class AnnEmbeddings(Workload):
    """Exact self top-k (k=10) of seeded 64-d Gaussian-mixture vectors
    through the bucketed ANN tier; the result is written as parquet."""

    name = "ann-embeddings"
    size = 8_000

    def generate(self) -> None:
        self.table = gen.embeddings(self.key, self.size)
        gen.write_parquet(self.table, self.path("emb"))

    def open(self, spark) -> None:
        pass

    def corpus(self, spark):
        return spark.read.parquet(self.path("emb"))

    def run_pass(self, spark, tr) -> None:
        with tr.span("ann.all_pairs"):
            ann.all_pairs_l2_topk(self.corpus(spark), k=K).write.mode("overwrite").parquet(
                self.path("ann")
            )
        ann.release_cached()

    def check(self) -> list[str]:
        emb = self.table.column("embedding").combine_chunks()
        vecs = emb.values.to_numpy().reshape(len(emb), -1)
        ids = self.table.column("vec_id").to_numpy()
        res = pq.read_table(self.path("ann"))
        return checks.ann_result(res, vecs, ids, K, sample_positions(self.seed, self.size))


class ImagePipeline(Workload):
    """One pass of the image pipeline over a duplicate-family image table:
    decode, phash points, all-kNN join, tile histogram, cell rollup,
    radius count, polygon tagging and caption MinHash dedup."""

    name = "image-pipeline"
    size = 12_000

    def generate(self) -> None:
        self.table = gen.image_table(self.key, self.size)
        gen.write_parquet(self.table, self.path("images"))
        self.rings = gen.polygons(self.key)

    def points(self):
        ph = self.table.column("phash").to_numpy().view(np.uint64)
        x = (ph >> np.uint64(32)).astype(np.float64) / float(1 << 32)
        y = (ph & np.uint64(0xFFFFFFFF)).astype(np.float64) / float(1 << 32)
        return np.arange(1, self.size + 1, dtype=np.int64), x, y

    def points_df(self, spark):
        return spark.read.parquet(self.path("points"))

    def open(self, spark) -> None:
        self.polys = spark.createDataFrame(
            [(f"p{j}", [{"x": a, "y": b} for a, b in ring]) for j, ring in enumerate(self.rings)],
            "poly_id string, ring array<struct<x:double,y:double>>",
        )

    def docs(self, images):
        serial = F.regexp_extract("image_id", r"(\d+)$", 1).cast("long") + 1
        return images.select(serial.alias("doc_id"), F.col("caption").alias("text"))

    def run_pass(self, spark, tr) -> None:
        images = spark.read.parquet(self.path("images"))
        with tr.span("media.decode"):
            decode_invariants(images).write.mode("overwrite").parquet(self.path("decode"))
        with tr.span("points.phash"):
            points_from_phash(images).select("id", "x", "y").write.mode("overwrite").parquet(
                self.path("points")
            )
        pts = self.points_df(spark)
        with tr.span("aknn.all_knn_join"):
            aknn.all_knn_join(pts, pts, k=K).write.mode("overwrite").parquet(self.path("knn"))
        aknn.release_cached()
        with tr.span("raster.tile_hist"):
            self.tiles = tile_histogram(pts, TILES).collect()
        with tr.span("cells.rollup"):
            self.cells = (
                pts.groupBy(cell_id(F.col("x"), F.col("y"), CELL_LEVEL).alias("cell"))
                .count()
                .collect()
            )
        with tr.span("spatial_join.radius"):
            radius_join_count(pts, pts, RADIUS).write.mode("overwrite").parquet(self.path("radius"))
        with tr.span("pip.tag"):
            self.tags = tag_points_in_polygons(pts, self.polys).select("id", "poly_id").collect()
        with tr.span("dedup.minhash"):
            dedup.minhash_dedup_pairs(self.docs(images), threshold=JACCARD).write.mode(
                "overwrite"
            ).parquet(self.path("minhash"))
        dedup.release_cached()

    def check(self) -> list[str]:
        errs: list[str] = []
        dec = pq.read_table(self.path("decode"), columns=["image_id", "phash_check", "decode_ok"])
        serial = np.char.lstrip(np.array(dec.column("image_id").to_pylist(), dtype=str), "img_")
        idx = serial.astype(np.int64)
        want = self.table.column("phash").to_numpy()[idx]
        if dec.num_rows != self.size or not dec.column("decode_ok").to_numpy().all():
            errs.append("decode: missing rows or decode_ok false")
        if not np.array_equal(dec.column("phash_check").to_numpy(), want):
            errs.append("decode: phash_check differs from the generator's hash")
        pts = self.points()
        sample = sample_positions(self.seed, self.size)
        errs += checks.knn_result(pq.read_table(self.path("knn")), pts, pts, K, sample)
        errs += checks.tile_histogram(self.tiles, pts[1], pts[2], TILES)
        errs += checks.cell_rollup(self.cells, pts[1], pts[2], CELL_LEVEL)
        errs += checks.radius_counts(pq.read_table(self.path("radius")), pts, RADIUS, sample)
        errs += checks.pip_tags(self.tags, pts, self.rings)
        captions = np.array(self.table.column("caption").to_pylist(), dtype=object)
        errs += checks.minhash_pairs(pq.read_table(self.path("minhash")), captions, JACCARD, sample)
        return errs


# ImagePipeline is not a workload of its own (its passes drift with host
# speed more than any usable bound); the traced run drives it on a side
# corpus. AnnEmbeddings runs from the command line but is not in
# BENCHMARK.json for the same reason; the traced run measures its layers
# on side vectors.
WORKLOADS = {w.name: w for w in (KnnUniform, KnnCheckpoint, AnnEmbeddings)}
