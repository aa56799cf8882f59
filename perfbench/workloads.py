"""The benchmark's two workloads.

Each workload generates its inputs from the seed (NumPy and pyarrow
only, no Spark), writes them to parquet, computes its references, then
runs ops one at a time. ``request`` builds an op's arguments, ``op`` is
the timed region, ``check`` compares the op's output with the reference
afterwards and returns a list of mismatches.

Engine functions are always called through their module or class
attribute (``pip_mod.pip_join``, not an imported name), so a traced run
can wrap them in spans without touching the engine's files.

Why these two (README.md has the longer version):
  ingest_query  the paper's headline path (cell encode -> PIP join ->
                tile assignment) as a checkpointed pipeline with
                snapshot commits, lineage rows and a resume, then a kNN
                request over what it committed;
  image_dedup   the Python/Arrow boundary, the codec and multi-round
                connected components.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gelos_spark.functions import cell_udfs
from gelos_spark.operators import dedup
from gelos_spark.operators import images as images_mod
from gelos_spark.operators import knn_join as knn_mod
from gelos_spark.operators import pip_join as pip_mod
from gelos_spark.plans import checkpoint as ckpt
from gelos_spark.tables.snapshot import SnapshotTable

from perfbench import gen, reference

# Sizes: the 48 runs of a two-commit comparison must fit in the budget
# even when the host runs a third slower than usual (see README.md).
TILES = 300_000
AOIS = 64
TILE_FILES = 8
KNN_QUERIES = 16  # 16 queries x TILES > 2M pairs: knn_join's ring path, not brute force
KNN_K = 10
IMAGES = 1024
IMAGE_W = 32
IMAGE_FILES = 4
MAX_HAMMING = 6

# every engine entry point a traced run wraps in a span
LAYER_CALLS = (
    (cell_udfs, "cell_encode_col", "cell_udfs"),
    (pip_mod, "pip_join", "pip_join"),
    (knn_mod, "knn_join", "knn_join"),
    (SnapshotTable, "overwrite_partition", "snapshot"),
    (SnapshotTable, "read", "snapshot"),
    (ckpt.Pipeline, "stage", "checkpoint"),
    (ckpt.CheckpointLog, "done_stages", "checkpoint"),
    (images_mod, "perturb_bands", "images"),
    (dedup, "phash_dup_pairs", "dedup.pairs"),
    (dedup, "connected_components", "dedup.components"),
    (dedup, "dedup_near", "dedup.near"),
)


def _read_table(files: list[str]):
    return pq.ParquetDataset(files).read().to_pandas()


class Workload:
    name = ""
    items_per_op = 0
    # ops after the cold op that run and are checked but not timed
    warmup_ops = 0

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tr = tracer
        self.inputs = ""

    def generate(self, dest: str) -> str:
        """Write inputs under ``dest``; return their digest."""
        raise NotImplementedError

    def prepare(self, inputs: str) -> None:
        """Point at the generated inputs and compute the references."""
        self.inputs = inputs

    def request(self, i: int):
        return i

    def op(self, req):
        raise NotImplementedError

    def check(self, req, res) -> list[str]:
        raise NotImplementedError


class IngestQuery(Workload):
    """Ingest, then query. A fresh-run-id Pipeline commits ``cells``
    (stored tiles -> cell_encode_col) then ``assign``
    (pip_join(ordered=False) over the AOIs) to snapshot tables with
    lineage rows; the same run id is run again and both stages must
    skip; then one client request of 16 seeded points (half on a tile,
    half uniform, k=10) goes to knn_join over the committed cells and
    its result is collected. Each op gets its own root, which is
    deleted after the check."""

    name = "ingest_query"
    items_per_op = TILES

    def generate(self, dest):
        self.tiles = gen.tiles(self.seed, TILES)
        self.aois = gen.aois(self.seed, AOIS)
        gen.write_parquet(self.tiles, os.path.join(dest, "tiles"), TILE_FILES)
        return gen.digest(self.tiles, self.aois)

    def prepare(self, inputs):
        super().prepare(inputs)
        lon, lat = self.tiles["lon"].to_numpy(), self.tiles["lat"].to_numpy()
        aoi_ids, idx = reference.pip_assign(lon, lat, self.aois)
        ids = self.tiles["image_id"].to_numpy()
        self.want = reference.assign_digest(aoi_ids, list(ids[idx]))
        self.cells = reference.morton_cell(lon, lat, pip_mod.TILE_RES)
        self.lon, self.lat = lon, lat
        self.roots = os.path.join(os.path.dirname(inputs), "ingest")

    def request(self, i):
        root = os.path.join(self.roots, f"op{i}")
        shutil.rmtree(root, ignore_errors=True)
        queries = gen.queries(self.seed, i, self.tiles, KNN_QUERIES, KNN_K)
        return {"op": i, "root": root, "run_id": f"run{i}", "queries": queries}

    def _stages(self, pipe):
        tiles_path = os.path.join(self.inputs, "tiles")

        def cells(spark):
            tiles = spark.read.parquet(tiles_path)
            cell = cell_udfs.cell_encode_col(F.col("lon"), F.col("lat"), pip_mod.TILE_RES)
            return tiles.withColumn("cell", cell)

        def assign(spark):
            return pip_mod.pip_join(
                spark, pipe.output("cells"), self.aois, tile_cell_col="cell", ordered=False
            )

        pipe.stage("cells", cells, rows_in=TILES)
        pipe.stage("assign", assign, rows_in=TILES)

    def op(self, req):
        fresh = ckpt.Pipeline(self.spark, req["root"], req["run_id"])
        self._stages(fresh)
        t = time.perf_counter()
        with self.tr.phase("resume"):
            again = ckpt.Pipeline(self.spark, req["root"], req["run_id"])
            self._stages(again)
        resume_s = time.perf_counter() - t
        tiles = again.output("cells").select("image_id", "lon", "lat")
        out = knn_mod.knn_join(self.spark, tiles, req["queries"], n_tiles_hint=TILES)
        with self.tr.sink("knn_join"):
            nearest = out.collect()
        return fresh, again, resume_s, nearest

    @staticmethod
    def _files(root: str, table: str) -> list[str]:
        return [f["path"] for f in SnapshotTable(os.path.join(root, table)).files()]

    def check(self, req, res):
        fresh, again, resume_s, nearest = res
        root, run_id = req["root"], req["run_id"]
        self.tr.note(req["op"], "checkpoint.resume_s", resume_s)
        errs = []
        if fresh.executed != ["cells", "assign"] or fresh.skipped:
            errs.append(f"ingest_query: fresh run executed {fresh.executed}, skipped {fresh.skipped}")
        if again.executed or again.skipped != ["cells", "assign"]:
            errs.append(f"ingest_query: resume executed {again.executed}, skipped {again.skipped}")

        cells = _read_table(self._files(root, "cells"))
        idx = cells["image_id"].str.slice(3).astype(np.int64).to_numpy()
        errs += reference.check_cells(idx, cells["cell"].to_numpy(), self.cells)
        assign = _read_table(self._files(root, "assign"))
        got = reference.assign_digest(assign["aoi_id"].to_numpy(), list(assign["image_id"]))
        errs += reference.check_digest(got, self.want, "ingest_query assign")
        log = _read_table(self._files(root, "_checkpoints"))
        errs += reference.check_lineage(log, run_id, {"cells": len(cells), "assign": len(assign)})

        q = req["queries"]
        got_knn = [(r.query_id, r.rank, int(r.image_id[3:]), r.dist_km) for r in nearest]
        want_knn = reference.knn_topk(self.lon, self.lat, q)
        errs += reference.check_knn(got_knn, want_knn, self.lon, self.lat, q)

        written = [
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
        ]
        self.tr.note(req["op"], "pip_join.assigned", len(assign))
        self.tr.note(req["op"], "snapshot.files_written", len(written))
        self.tr.note(req["op"], "snapshot.bytes_written", sum(os.path.getsize(p) for p in written))
        shutil.rmtree(root, ignore_errors=True)
        return errs


class ImageDedup(Workload):
    """Stored 32x32 images -> images.perturb_bands (decode, perturb,
    re-encode, phash in mapInArrow) -> union with the originals ->
    dedup.phash_dup_pairs(max_hamming=6) -> dedup_near(keep="canonical").
    The union and the pairs are each materialised once, so perturb runs
    once per op and its Python time lands in the images layer."""

    name = "image_dedup"
    items_per_op = 2 * IMAGES
    # the op after the cold one still runs about a third slower than
    # the ops after it (4.2 s against 2.8-3.1 s at local[3])
    warmup_ops = 2

    def generate(self, dest):
        imgs = gen.images(self.seed, IMAGES, IMAGE_W)
        gen.write_parquet(imgs, os.path.join(dest, "images"), IMAGE_FILES)
        return gen.digest(imgs)

    def prepare(self, inputs):
        super().prepare(inputs)
        self.input_rows = None

    def op(self, req):
        imgs = self.spark.read.parquet(os.path.join(self.inputs, "images"))
        near = images_mod.perturb_bands(imgs, bands=(2,), alpha=0.1, seed=3)
        both = imgs.select("image_id", "phash").unionByName(
            near.select(F.concat(F.col("image_id"), F.lit("_p")).alias("image_id"), "phash")
        )
        with self.tr.sink("images"):
            both = both.localCheckpoint()
        pairs = dedup.phash_dup_pairs(both, max_hamming=MAX_HAMMING)
        with self.tr.sink("dedup.pairs"):
            pairs = pairs.localCheckpoint()
        kept = dedup.dedup_near(both, pairs, id_col="image_id", keep="canonical")
        with self.tr.sink("dedup.near"):
            survivors = [r.image_id for r in kept.select("image_id").collect()]
        return both, pairs, survivors

    def check(self, req, res):
        both, pairs, survivors = res
        rows = sorted((r.image_id, r.phash) for r in both.collect())
        errs = []
        if self.input_rows is None:
            # the op's own (image_id, phash) input is the reference input;
            # it is seeded, so every later op must see the same rows
            self.input_rows = rows
            ids = [r[0] for r in rows]
            self.want_pairs = reference.hamming_pairs(ids, np.asarray([r[1] for r in rows]), MAX_HAMMING)
            self.want_survivors = reference.canonical_survivors(ids, self.want_pairs)
        elif rows != self.input_rows:
            errs.append("image_dedup: the op's (image_id, phash) input changed between ops")
        got_pairs = {(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()}
        self.tr.note(req, "dedup.pairs_verified", len(got_pairs))
        errs += reference.check_set(got_pairs, self.want_pairs, "image_dedup pairs")
        if survivors != self.want_survivors:
            errs += reference.check_set(survivors, self.want_survivors, "image_dedup survivors")
            if not errs:
                errs.append("image_dedup: survivors are not sorted by image_id")
        return errs


WORKLOADS = {w.name: w for w in (IngestQuery, ImageDedup)}
