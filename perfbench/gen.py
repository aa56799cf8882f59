"""Seeded benchmark inputs, independent of ``gelos_spark.sources.synth``.

Every array is drawn from a NumPy PCG64 generator keyed by
``(seed, stream)``, so the same seed gives byte-identical inputs on any
machine with the same NumPy. The mixtures mirror the shapes the engine
is built for (FIXTURES.md): tiles are 80% dense Gaussian "urban"
clusters and 20% uniform, so cell occupancy is skewed; AOIs are star
polygons, half of them centred on a cluster so the PIP join has real
work, with the same radii and cluster cover for every seed so the
join's work does not swing with the seed; images are
palette-plus-gradient tiles stored in the engine's three payload
formats, with some exact re-ingested copies so duplicate
clusters span more than two images.

Only images touch the engine: payload bytes are written with
``functions.codec`` (the stored format the image operators decode) and
the stored ``phash`` comes from ``codec.phash64``. ``digest`` hashes
what was generated, so a change to the codec, to NumPy's generators or
to this file shows up as a new digest (pinned in the self-tests).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gelos_spark.functions import codec

N_CLUSTERS = 8
HOT_FRACTION = 0.8
CLUSTER_SIGMA_DEG = 0.05
AOI_RADIUS_DEG = (0.4, 3.0)
CLUSTER_GAP_DEG = 2 * AOI_RADIUS_DEG[1] + 1.0
LON_BOX = (-60.0, 60.0)
LAT_BOX = (-50.0, 50.0)
PALETTE = np.asarray([0, 32, 96, 160, 224], dtype=np.uint8)
FORMATS = ("raw", "png", "qdct")


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([int(seed), int(stream)]))


def image_ids(n: int) -> list[str]:
    return [f"img{i:010d}" for i in range(n)]


def cluster_centers(seed: int) -> np.ndarray:
    """Cluster centres at least CLUSTER_GAP_DEG apart, so no AOI on one
    cluster reaches another."""
    r = rng(seed, 1)
    out: list[np.ndarray] = []
    while len(out) < N_CLUSTERS:
        c = np.asarray([r.uniform(*LON_BOX), r.uniform(*LAT_BOX)])
        if all(np.hypot(*(c - o)) > CLUSTER_GAP_DEG for o in out):
            out.append(c)
    return np.stack(out)


def tiles(seed: int, n: int) -> pd.DataFrame:
    """(image_id, lon, lat): the clustered tracker mixture."""
    r = rng(seed, 2)
    centers = cluster_centers(seed)
    hot = r.uniform(size=n) < HOT_FRACTION
    ci = r.integers(0, N_CLUSTERS, n)
    lon = np.where(
        hot, centers[ci, 0] + r.normal(0.0, CLUSTER_SIGMA_DEG, n), r.uniform(*LON_BOX, n)
    )
    lat = np.where(
        hot, centers[ci, 1] + r.normal(0.0, CLUSTER_SIGMA_DEG, n), r.uniform(*LAT_BOX, n)
    )
    return pd.DataFrame({"image_id": image_ids(n), "lon": lon, "lat": lat})


def aois(seed: int, m: int) -> list[dict]:
    """Star-shaped AOI polygons (open rings, 5-12 vertices). Even ids
    sit on a tile cluster (clusters taken in turn), odd ids in the
    open box clear of every cluster, and the radii are one fixed set
    shuffled, so every seed gives the join the same amount of work:
    only the positions and shapes change."""
    r = rng(seed, 3)
    centers = cluster_centers(seed)
    radii = r.permutation(np.linspace(*AOI_RADIUS_DEG, m))
    out = []
    for a in range(m):
        radius = radii[a]
        if a % 2 == 0:
            c = centers[(a // 2) % N_CLUSTERS] + r.normal(0.0, 0.02, 2)
        else:
            while True:
                c = np.asarray([r.uniform(*LON_BOX), r.uniform(*LAT_BOX)])
                if np.hypot(*(centers - c).T).min() > radius + 0.5:
                    break
        nv = int(r.integers(5, 13))
        # jittered even angles: no gap reaches half a turn, so the ring holds its centre
        ang = (np.arange(nv) + r.uniform(0.0, 0.5, nv)) * (2.0 * np.pi / nv)
        rad = radius * r.uniform(0.6, 1.0, nv)
        ring = np.stack([c[0] + rad * np.cos(ang), c[1] + rad * np.sin(ang)], axis=1)
        out.append({"aoi_id": a, "ring": ring, "name": f"aoi{a}"})
    return out


def queries(seed: int, request: int, tile_df: pd.DataFrame, q: int, k: int) -> pd.DataFrame:
    """One kNN request: half the points sit exactly on a stored tile,
    half are uniform in the tile box."""
    r = rng(seed, 1000 + request)
    at_tile = np.arange(q) < q // 2
    pick = r.integers(0, len(tile_df), q)
    lon = np.where(at_tile, tile_df["lon"].to_numpy()[pick], r.uniform(*LON_BOX, q))
    lat = np.where(at_tile, tile_df["lat"].to_numpy()[pick], r.uniform(*LAT_BOX, q))
    return pd.DataFrame(
        {
            "query_id": np.arange(q, dtype=np.int64),
            "lon": lon,
            "lat": lat,
            "k": np.full(q, k, dtype=np.int32),
        }
    )


def image_pixels(seed: int, n: int, w: int, dup_every: int) -> np.ndarray:
    """[n, w, w, 3] uint8. Every ``dup_every``-th image copies the
    pixels of an earlier one (a re-ingested duplicate), which chains
    near-dup clusters beyond pairs once perturbed copies join them."""
    r = rng(seed, 4)
    px = PALETTE[r.integers(0, len(PALETTE), (n, w, w, 3))]
    grad = (np.arange(w, dtype=np.float64) / max(w - 1, 1) * 30.0).astype(np.int16)
    px = np.minimum(px.astype(np.int16) + grad[None, None, :, None], 255).astype(np.uint8)
    for i in range(dup_every - 1, n, dup_every):
        px[i] = px[int(r.integers(0, i))]
    return px


def images(seed: int, n: int, w: int, dup_every: int = 8) -> pd.DataFrame:
    """The engine's images table shape: (image_id, bytes, w, h, fmt,
    caption, phash), formats cycling raw/png/qdct."""
    px = image_pixels(seed, n, w, dup_every)
    blobs, fmts, phashes = [], [], []
    for i in range(n):
        fmt = FORMATS[i % len(FORMATS)]
        b = codec.encode(px[i], fmt)
        decoded = px[i] if fmt in ("raw", "png") else codec.decode(b, fmt, w, w)
        blobs.append(b)
        fmts.append(fmt)
        phashes.append(codec.phash64(decoded))
    return pd.DataFrame(
        {
            "image_id": image_ids(n),
            "bytes": blobs,
            "w": np.full(n, w, dtype=np.int32),
            "h": np.full(n, w, dtype=np.int32),
            "fmt": fmts,
            "caption": [f"tile #{i}" for i in range(n)],
            "phash": np.asarray(phashes, dtype=np.int64),
        }
    )


def write_parquet(df: pd.DataFrame, path: str, files: int) -> None:
    """Write ``df`` as ``files`` parquet parts, so a local[N] scan gets
    one split per part instead of one task for the whole table."""
    os.makedirs(path, exist_ok=True)
    for j, idx in enumerate(np.array_split(np.arange(len(df)), files)):
        pq.write_table(
            pa.Table.from_pandas(df.iloc[idx], preserve_index=False),
            os.path.join(path, f"part-{j:03d}.parquet"),
        )


def digest(*parts) -> str:
    """sha256 over DataFrames and AOI lists, in order."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            for c in p.columns:
                h.update(c.encode())
                col = p[c]
                if col.dtype == object:
                    for v in col:
                        h.update(v if isinstance(v, bytes) else str(v).encode())
                        h.update(b"\0")
                else:
                    h.update(np.ascontiguousarray(col.to_numpy()).tobytes())
        else:
            for a in p:
                h.update(str(a["aoi_id"]).encode())
                h.update(np.ascontiguousarray(a["ring"], dtype=np.float64).tobytes())
    return h.hexdigest()
