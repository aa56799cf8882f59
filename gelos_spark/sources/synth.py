"""Deterministic, distributed synthetic table generators (FIXTURES.md).

Every value is derived from (seed, row id) with counter-based
randomness (splitmix64 / Philox), never from partition or batch
boundaries — so the same seed yields byte-identical tables at ANY
parallelism level and partition layout. This is the property that
makes the two-cluster-size exact-match criterion testable
(BASELINE.json north_rule), and mirrors the reference's seeded
fixture discipline (gelos tests/utils.py:81-113, seed handling at
gelos/embedding_extraction.py:50).

``images`` is generated with ``spark.range(n).mapInArrow`` so the
pixel work is distributed and bounded-memory: at bench scale nothing
payload-sized ever materializes on the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gelos_spark.functions import codec

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)

TRACKER_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lulc", T.StringType(), False),
    ]
)

LULC = ("water", "trees", "crops", "built", "bare")
N_HOT_CLUSTERS = 8
HOT_FRACTION = 0.8  # skewed "urban" mass the salting path must handle

_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — one 64-bit hash per input counter."""
    z = (np.asarray(x, dtype=np.uint64) + _SM_GAMMA) * np.uint64(1)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _u01(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Deterministic uniform [0,1) per (seed, id, stream)."""
    h = _splitmix64(
        np.asarray(ids, dtype=np.uint64)
        ^ _splitmix64(np.asarray([np.uint64(seed)], dtype=np.uint64) + np.uint64(stream))
    )
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _gauss(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Deterministic standard normal per (seed, id, stream) (Box-Muller)."""
    u1 = np.maximum(_u01(ids, seed, stream * 2 + 101), 1e-300)
    u2 = _u01(ids, seed, stream * 2 + 102)
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)


def _cluster_centers(seed: int) -> np.ndarray:
    """[N_HOT_CLUSTERS, 2] (lon, lat) hot-cluster centers."""
    ids = np.arange(N_HOT_CLUSTERS, dtype=np.uint64)
    lon = _u01(ids, seed, 7) * 120.0 - 60.0
    lat = _u01(ids, seed, 8) * 100.0 - 50.0
    return np.stack([lon, lat], axis=1)


def tracker_coords(ids: np.ndarray, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) for each integer row id — 80% from 8 dense Gaussian
    'urban' clusters (sigma=0.05 deg), 20% uniform (FIXTURES.md §2)."""
    ids = np.asarray(ids, dtype=np.uint64)
    centers = _cluster_centers(seed)
    hot = _u01(ids, seed, 1) < HOT_FRACTION
    ci = (_splitmix64(ids ^ np.uint64(seed * 31 + 5)) % np.uint64(N_HOT_CLUSTERS)).astype(np.int64)
    lon_hot = centers[ci, 0] + _gauss(ids, seed, 2) * 0.05
    lat_hot = centers[ci, 1] + _gauss(ids, seed, 3) * 0.05
    lon_uni = _u01(ids, seed, 4) * 120.0 - 60.0
    lat_uni = _u01(ids, seed, 5) * 100.0 - 50.0
    lon = np.where(hot, lon_hot, lon_uni)
    lat = np.where(hot, lat_hot, lat_uni)
    return np.clip(lon, -179.999, 179.999), np.clip(lat, -89.999, 89.999)


def _image_pixels(i: int, w: int, h: int, seed: int) -> np.ndarray:
    """Seeded pixels for row i — counter-based Philox keyed by (seed, i)
    so the result is independent of batch/partition layout. Palette
    values + gradient, like the reference's dummy tiffs
    (tests/utils.py:37-43)."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed) ^ np.uint64(i)))
    palette = np.asarray([0, 32, 96, 160, 224], dtype=np.uint8)
    base = palette[rng.integers(0, len(palette), size=(h, w, 3))]
    grad = (np.arange(w, dtype=np.float64) / max(w - 1, 1) * 30.0).astype(np.uint8)
    return np.minimum(base.astype(np.int16) + grad[None, :, None], 255).astype(np.uint8)


def _lulc_index(ids: np.ndarray, seed: int) -> np.ndarray:
    """LULC index per uint64 id for the images table. The hash goes
    through float64 before ``% 5``: that precision-lossy value is what
    NumPy 1.x's promotion of a uint64 scalar with a Python int gave the
    first generator, and every pinned caption carries it. The explicit
    cast keeps it under NumPy 2's rules (NEP 50) too."""
    return (_splitmix64(ids ^ np.uint64(seed + 17)).astype(np.float64) % 5).astype(np.int64)


def image_row(i: int, w: int, h: int, seed: int) -> dict:
    """One fully-materialized images row (shared by generator + tests)."""
    fmt = codec.FORMATS[i % 3]
    px = _image_pixels(i, w, h, seed)
    lon, lat = tracker_coords(np.asarray([i]), seed)
    lulc = LULC[_lulc_index(np.asarray([i], dtype=np.uint64), seed)[0]]
    encoded = codec.encode(px, fmt)
    decoded = codec.decode(encoded, fmt, w, h)
    return {
        "image_id": f"img{i:010d}",
        "bytes": encoded,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": f"{lulc} tile at {lat[0]:.4f},{lon[0]:.4f} #{i}",
        "phash": codec.phash64(decoded),
    }


def images_df(spark: SparkSession, n: int, w: int = 64, seed: int = 42, parts: int | None = None) -> DataFrame:
    """Distributed images table: spark.range -> mapInArrow (payload
    work never touches the driver). Row values are identical to
    ``image_row`` per id (pinned by tests), but the per-id scalar work
    image_row repeats — tracker_coords / lulc-hash on 1-element arrays
    — runs once per BATCH here, and the lossless formats skip the
    encode->decode round trip before phash (decode(encode(px)) == px
    for raw/png by the codec's lossless contract, so the hash input is
    bit-identical). ~2x less Python per image; the remaining loop is
    the per-image Philox draw + codec, which are keyed per id."""
    h = w

    def gen(batches):
        for batch in batches:
            ids = batch.column("id").to_numpy()
            if len(ids) == 0:
                continue
            u64 = ids.astype(np.uint64)
            lon, lat = tracker_coords(u64, seed)
            lulc_i = _lulc_index(u64, seed)
            image_ids, blobs, fmts, captions, phashes = [], [], [], [], []
            for j, i in enumerate(ids):
                i = int(i)
                fmt = codec.FORMATS[i % 3]
                px = _image_pixels(i, w, h, seed)
                encoded = codec.encode(px, fmt)
                decoded = px if fmt in ("raw", "png") else codec.decode(encoded, fmt, w, h)
                image_ids.append(f"img{i:010d}")
                blobs.append(encoded)
                fmts.append(fmt)
                captions.append(
                    f"{LULC[int(lulc_i[j])]} tile at {lat[j]:.4f},{lon[j]:.4f} #{i}"
                )
                phashes.append(codec.phash64(decoded))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(image_ids, type=pa.string()),
                    pa.array(blobs, type=pa.binary()),
                    pa.array(np.full(len(ids), w, dtype=np.int32)),
                    pa.array(np.full(len(ids), h, dtype=np.int32)),
                    pa.array(fmts, type=pa.string()),
                    pa.array(captions, type=pa.string()),
                    pa.array(np.asarray(phashes, dtype=np.int64)),
                ],
                names=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
            )

    rng_df = spark.range(0, n, 1, parts or max(8, n // 4096))
    return rng_df.mapInArrow(gen, IMAGES_SCHEMA)


def images_df_arith(
    spark: SparkSession, n: int, w: int = 16, seed: int = 42, parts: int | None = None
) -> DataFrame:
    """Images with CLOSED-FORM pixels — px[y,x,c] = (seed*131 + i*7919
    + y*3 + x*5 + c*17) % 256 — alternating between the two LOSSLESS
    codecs (raw, png). Because decode(encode(px)) == px and the pixel
    law is pure integer arithmetic, any statistic of the decoded
    payload is recomputable in SQL from first principles: the oracle
    path that lets the scan+decode pipeline (including the
    from-scratch PNG codec) be DuckDB-checked end-to-end. The Philox
    generator ``images_df`` stays the default for everything needing
    realistic pixel structure (qdct/phash tests)."""
    h = w

    def gen(batches):
        yy, xx = np.mgrid[0:h, 0:w]
        for batch in batches:
            ids = batch.column("id").to_numpy()
            rows = []
            for i in ids:
                i = int(i)
                px = (
                    (seed * 131 + i * 7919 + yy * 3 + xx * 5)[:, :, None]
                    + np.arange(3) * 17
                ) % 256
                px = px.astype(np.uint8)
                fmt = "raw" if i % 2 == 0 else "png"
                rows.append(
                    {
                        "image_id": f"img{i:010d}",
                        "bytes": codec.encode(px, fmt),
                        "w": np.int32(w),
                        "h": np.int32(h),
                        "fmt": fmt,
                        "caption": f"arith tile #{i}",
                        "phash": np.int64(codec.phash64(px)),
                    }
                )
            yield pa.RecordBatch.from_pandas(
                pd.DataFrame(rows),
                schema=pa.schema(
                    [
                        ("image_id", pa.string()),
                        ("bytes", pa.binary()),
                        ("w", pa.int32()),
                        ("h", pa.int32()),
                        ("fmt", pa.string()),
                        ("caption", pa.string()),
                        ("phash", pa.int64()),
                    ]
                ),
                preserve_index=False,
            )

    rng_df = spark.range(0, n, 1, parts or max(8, n // 4096))
    return rng_df.mapInArrow(gen, IMAGES_SCHEMA)


def tracker_df(spark: SparkSession, n: int, seed: int = 42, parts: int | None = None) -> DataFrame:
    """Companion chip_tracker(image_id, lon, lat, lulc) — geolocation
    lives beside the payload as in the reference (tests/utils.py:97-113)."""

    def gen(batches):
        for batch in batches:
            ids = batch.column("id").to_numpy()
            lon, lat = tracker_coords(ids, seed)
            lulc_idx = _splitmix64(ids.astype(np.uint64) ^ np.uint64(seed + 17)) % np.uint64(5)
            pdf = pd.DataFrame(
                {
                    "image_id": [f"img{int(i):010d}" for i in ids],
                    "lon": lon,
                    "lat": lat,
                    "lulc": [LULC[int(k)] for k in lulc_idx],
                }
            )
            yield pa.RecordBatch.from_pandas(pdf, preserve_index=False)

    rng_df = spark.range(0, n, 1, parts or max(8, n // 65536))
    return rng_df.mapInArrow(gen, TRACKER_SCHEMA)


def aoi_polygons(m: int, seed: int = 42, vertices: int | None = None) -> list[dict]:
    """Seeded convex-ish AOI polygons (driver-side — AOI sets are the
    small/broadcast dimension). Centers biased toward the hot clusters
    so PIP actually intersects the skewed mass. ``vertices`` fixes the
    ring size (real AOIs — admin boundaries, watersheds — run to
    hundreds of vertices); default draws 5-12."""
    rng = np.random.default_rng(seed + 1000)
    centers = _cluster_centers(seed)
    out = []
    for a in range(m):
        if rng.uniform() < 0.5:
            c = centers[rng.integers(0, N_HOT_CLUSTERS)] + rng.normal(0, 0.3, 2)
        else:
            c = np.asarray([rng.uniform(-60, 60), rng.uniform(-50, 50)])
        nv = int(vertices) if vertices else int(rng.integers(5, 13))
        radius = rng.uniform(0.2, 3.0)
        angles = np.sort(rng.uniform(0, 2 * np.pi, nv))
        radii = radius * rng.uniform(0.6, 1.0, nv)
        ring = np.stack(
            [c[0] + radii * np.cos(angles), c[1] + radii * np.sin(angles)], axis=1
        )
        ring[:, 0] = np.clip(ring[:, 0], -179.9, 179.9)
        ring[:, 1] = np.clip(ring[:, 1], -89.9, 89.9)
        out.append({"aoi_id": a, "ring": ring, "name": f"aoi{a}"})
    return out


def aoi_df(spark: SparkSession, m: int, seed: int = 42) -> DataFrame:
    rows = [
        (
            p["aoi_id"],
            [{"lon": float(x), "lat": float(y)} for x, y in p["ring"]],
            p["name"],
        )
        for p in aoi_polygons(m, seed)
    ]
    schema = T.StructType(
        [
            T.StructField("aoi_id", T.LongType(), False),
            T.StructField(
                "ring",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("lon", T.DoubleType(), False),
                            T.StructField("lat", T.DoubleType(), False),
                        ]
                    )
                ),
                False,
            ),
            T.StructField("name", T.StringType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def query_points(q: int, n_tiles: int, seed: int = 42) -> pd.DataFrame:
    """kNN query points: 50% at existing tile locations, 50% uniform
    in the tracker bbox (FIXTURES.md §4)."""
    rng = np.random.default_rng(seed + 2000)
    at_tile = rng.uniform(size=q) < 0.5
    tile_ids = rng.integers(0, max(n_tiles, 1), size=q)
    tlon, tlat = tracker_coords(tile_ids.astype(np.uint64), seed)
    ulon = rng.uniform(-60, 60, q)
    ulat = rng.uniform(-50, 50, q)
    return pd.DataFrame(
        {
            "query_id": np.arange(q, dtype=np.int64),
            "lon": np.where(at_tile, tlon, ulon),
            "lat": np.where(at_tile, tlat, ulat),
            "k": np.full(q, 10, dtype=np.int32),
        }
    )


def query_df(spark: SparkSession, q: int, n_tiles: int, seed: int = 42, k: int | None = None) -> DataFrame:
    pdf = query_points(q, n_tiles, seed)
    if k is not None:
        pdf["k"] = np.int32(k)
    return spark.createDataFrame(pdf)
