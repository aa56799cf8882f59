"""Independent NumPy references for every benchmark op's output.

Nothing here imports ``gelos_spark``: the ray-cast, Morton encode,
haversine, Hamming and union-find below are written from their
definitions, so a bug in the engine's own kernels cannot hide in the
reference. ``xxhash64`` reproduces Spark's built-in ``xxhash64``
(seed 42, columns chained) so an in-plan checksum of an op's output
can be compared against a hash of the reference rows.

Each ``check_*`` returns a list of mismatch descriptions; empty means
the op's output is correct.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_KM = 6371.0088

# ------------------------------------------------------------ xxhash64

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(v * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _hash_bytes(b: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each row of a [n, L] uint8 matrix (L < 32)."""
    n, length = b.shape
    h = seed + _P5 + np.uint64(length)
    off = 0
    while off + 8 <= length:
        k = np.ascontiguousarray(b[:, off : off + 8]).view("<u8").reshape(n)
        h = h ^ (_rotl(k * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        off += 8
    if off + 4 <= length:
        k = np.ascontiguousarray(b[:, off : off + 4]).view("<u4").reshape(n).astype(np.uint64)
        h = h ^ (k * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        off += 4
    while off < length:
        h = h ^ (b[:, off].astype(np.uint64) * _P5)
        h = _rotl(h, 11) * _P1
        off += 1
    return _fmix(h)


def xxhash64_long_str(longs: np.ndarray, strs: list[str]) -> np.ndarray:
    """Spark ``xxhash64(long_col, string_col)`` per row, as int64.
    The strings must share one ASCII length (the benchmark's ids)."""
    longs = np.asarray(longs, dtype=np.int64).view(np.uint64)
    if len(strs) == 0:
        return np.zeros(0, dtype=np.int64)
    length = len(strs[0])
    raw = np.frombuffer("".join(strs).encode("ascii"), dtype=np.uint8)
    if raw.size != length * len(strs):
        raise ValueError("xxhash64_long_str needs equal-length ASCII strings")
    with np.errstate(over="ignore"):
        h = _hash_long(longs, np.full(len(strs), 42, dtype=np.uint64))
        h = _hash_bytes(raw.reshape(len(strs), length), h)
    return h.view(np.int64)


def xor_digest(hashes: np.ndarray) -> int:
    """bit_xor of int64 hashes (0 for no rows), as Spark reports it."""
    if len(hashes) == 0:
        return 0
    return int(np.bitwise_xor.reduce(np.asarray(hashes, dtype=np.int64)))


# --------------------------------------------------- point in polygon

def ray_cast(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing test with the half-open edge rule: edge
    (x1,y1)-(x2,y2) counts when (y1 > y) != (y2 > y) and
    x < (x2-x1)*(y-y1)/(y2-y1) + x1. The ring is open or closed."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    keep = y1 != y2
    x1, y1, x2, y2 = x1[keep], y1[keep], x2[keep], y2[keep]
    inside = np.zeros(len(px), dtype=bool)
    for a, b, c, d in zip(x1, y1, x2, y2):
        cross = ((b > py) != (d > py)) & (px < (c - a) * (py - b) / (d - b) + a)
        inside ^= cross
    return inside


def pip_assign(lon: np.ndarray, lat: np.ndarray, aois: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """Every (aoi_id, tile index) with the tile inside the AOI ring.
    A bounding-box pre-filter (widened, so it never drops a point the
    ray-cast would keep) limits each ring to its nearby tiles."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    aoi_out, idx_out = [], []
    for a in aois:
        ring = np.asarray(a["ring"], dtype=np.float64)
        if np.ptp(ring[:, 0]) > 180.0:
            raise ValueError("reference ray-cast does not handle antimeridian rings")
        pad = 1e-6
        near = np.flatnonzero(
            (lon >= ring[:, 0].min() - pad)
            & (lon <= ring[:, 0].max() + pad)
            & (lat >= ring[:, 1].min() - pad)
            & (lat <= ring[:, 1].max() + pad)
        )
        hit = near[ray_cast(lon[near], lat[near], ring)]
        aoi_out.append(np.full(len(hit), a["aoi_id"], dtype=np.int64))
        idx_out.append(hit)
    return np.concatenate(aoi_out), np.concatenate(idx_out)


def assign_digest(aoi_ids: np.ndarray, image_ids: list[str]) -> tuple[int, int]:
    """(row count, xor of xxhash64(aoi_id, image_id))."""
    return len(aoi_ids), xor_digest(xxhash64_long_str(aoi_ids, image_ids))


def check_digest(got: tuple[int, int], want: tuple[int, int], what: str) -> list[str]:
    if tuple(got) == tuple(want):
        return []
    return [f"{what}: (rows, xor-hash) {tuple(got)} != reference {tuple(want)}"]


# ---------------------------------------------------------- cell ids

def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between the low 32 bits (bit i -> bit 2i)."""
    v = v.astype(np.int64)
    out = np.zeros_like(v)
    for i in range(32):
        out |= ((v >> i) & 1) << (2 * i)
    return out


def morton_cell(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Quadtree Morton id at ``res``: x from the wrapped longitude,
    y from latitude, both floored onto a 2^res grid and clamped, x in
    the even bits and y in the odd bits."""
    n = 1 << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    r = np.fmod(lon + 180.0, 360.0)
    lon_w = np.where(r < 0, np.fmod(r + 360.0, 360.0), r) - 180.0
    x = np.floor((lon_w + 180.0) / 360.0 * float(n))
    y = np.floor((lat + 90.0) / 180.0 * float(n))
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return _spread_bits(x) | (_spread_bits(y) << 1)


def check_cells(image_idx: np.ndarray, cell: np.ndarray, want: np.ndarray) -> list[str]:
    """A committed cells table: one row per tile index 0..n-1 whose
    cell id equals ``want[index]``."""
    order = np.argsort(image_idx, kind="stable")
    idx = np.asarray(image_idx)[order]
    if not np.array_equal(idx, np.arange(len(want))):
        return [f"cells: {len(idx)} rows do not cover the {len(want)} tiles once each"]
    bad = np.flatnonzero(np.asarray(cell)[order] != want)
    if len(bad):
        return [f"cells: {len(bad)} cell ids differ from the Morton reference (tile {bad[0]})"]
    return []


def check_lineage(log, run_id: str, table_rows: dict[str, int]) -> list[str]:
    """Checkpoint-log rows of one run: per stage, the ``file`` rows'
    rows_out sum to the committed table's rows and one ``done`` marker
    carries the same total. ``log`` is a pandas frame of the log."""
    errs = []
    for stage, rows in table_rows.items():
        mine = log[(log["run_id"] == run_id) & (log["stage"] == stage)]
        files = int(mine.loc[mine["status"] == "file", "rows_out"].sum())
        done = [int(v) for v in mine.loc[mine["status"] == "done", "rows_out"]]
        if files != rows or done != [rows]:
            errs.append(f"lineage {stage}: file rows_out {files}, done {done}, table rows {rows}")
    return errs


# --------------------------------------------------------------- kNN

def haversine_km(lon1, lat1, lon2, lat2) -> np.ndarray:
    p1, l1 = np.radians(lat1), np.radians(lon1)
    p2, l2 = np.radians(lat2), np.radians(lon2)
    a = np.sin((p2 - p1) / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin((l2 - l1) / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


def knn_topk(
    lon: np.ndarray, lat: np.ndarray, queries
) -> dict[int, list[tuple[int, float]]]:
    """Brute-force k nearest tiles per query, ranked by (distance,
    tile index); tile index order is image_id order (zero-padded)."""
    out = {}
    for qid, qlon, qlat, k in zip(queries["query_id"], queries["lon"], queries["lat"], queries["k"]):
        d = haversine_km(qlon, qlat, lon, lat)
        k = min(int(k), len(d))
        cand = np.argpartition(d, k - 1)[: k]
        # widen to every tile tied with the k-th distance before ranking
        cand = np.flatnonzero(d <= d[cand].max())
        order = np.lexsort((cand, d[cand]))[:k]
        out[int(qid)] = [(int(cand[i]), float(d[cand[i]])) for i in order]
    return out


def check_knn(
    got: list[tuple[int, int, int, float]],
    ref: dict[int, list[tuple[int, float]]],
    lon: np.ndarray,
    lat: np.ndarray,
    queries,
    tol_km: float = 1e-9,
) -> list[str]:
    """``got`` rows are (query_id, rank, tile index, dist_km). Every
    rank must carry the reference distance and the tile's true
    distance; a different tile at a rank is accepted only as a tie."""
    errs = []
    by_q: dict[int, list] = {}
    for qid, rank, idx, dist in got:
        by_q.setdefault(int(qid), []).append((int(rank), int(idx), float(dist)))
    if set(by_q) != set(ref):
        return [f"knn: query ids {sorted(by_q)} != reference {sorted(ref)}"]
    qpos = {int(q): i for i, q in enumerate(queries["query_id"])}
    for qid, want in ref.items():
        rows = sorted(by_q[qid])
        if [r[0] for r in rows] != list(range(1, len(want) + 1)):
            errs.append(f"knn: query {qid} ranks {[r[0] for r in rows]}")
            continue
        if len({r[1] for r in rows}) != len(rows):
            errs.append(f"knn: query {qid} repeats a tile")
        i = qpos[qid]
        qlon, qlat = queries["lon"].iloc[i], queries["lat"].iloc[i]
        for (rank, idx, dist), (widx, wdist) in zip(rows, want):
            true = float(haversine_km(qlon, qlat, lon[idx], lat[idx]))
            if abs(dist - wdist) > tol_km or abs(dist - true) > tol_km:
                errs.append(
                    f"knn: query {qid} rank {rank} tile {idx} dist {dist} "
                    f"(true {true}) != reference {widx} at {wdist}"
                )
    return errs


# --------------------------------------------------- near-dup images

_POP8 = np.asarray([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def hamming_pairs(ids: list[str], phash: np.ndarray, max_hamming: int) -> set[tuple[str, str]]:
    """All (id_a, id_b) with id_a < id_b and popcount(a ^ b) <= max_hamming."""
    ph = np.asarray(phash, dtype=np.int64)
    n = len(ph)
    out = set()
    step = 512
    for s in range(0, n, step):
        x = ph[s : s + step, None] ^ ph[None, :]
        d = _POP8[x.view(np.uint8).reshape(x.shape[0], n, 8)].sum(axis=2)
        ii, jj = np.nonzero(d <= max_hamming)
        for i, j in zip(ii + s, jj):
            if i < j:
                a, b = ids[i], ids[j]
                out.add((a, b) if a < b else (b, a))
    return out


def canonical_survivors(ids: list[str], pairs: set[tuple[str, str]]) -> list[str]:
    """Union-find over ``pairs``; each connected component keeps its
    smallest id, unpaired ids keep themselves. Sorted."""
    parent = {i: i for i in ids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return sorted(i for i in ids if find(i) == i)


def check_set(got, want, what: str) -> list[str]:
    got, want = set(got), set(want)
    if got == want:
        return []
    return [
        f"{what}: {len(got - want)} unexpected, {len(want - got)} missing "
        f"(e.g. {sorted(got - want)[:2]} / {sorted(want - got)[:2]})"
    ]
